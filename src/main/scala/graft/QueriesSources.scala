package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.core.{Det, Tables}
import graft.operators.{FitsCodec, MediaCodecs, Multimodal}
import graft.sources.{DatasetSession, FitsSource}
import graft.streaming.Streams

/** SURVEY §2.1 sources/sinks + §3 EP1 lifecycle + §2.10 streaming +
  * multimodal plumbing.
  */
object QueriesSources {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Scratch dir keyed by sf dir so sf0.01/sf0.1 runs don't collide. */
  private def scratch(dir: String, tag: String): String = {
    val key = dir.replaceAll("[^A-Za-z0-9.]", "_")
    val p = s"${sys.props("java.io.tmpdir")}/graft_$key/$tag"
    Files.createDirectories(Paths.get(p))
    p
  }

  /** scratch() wiped clean first — for the snapshot tables, whose
    * commit protocol CASes on version-manifest creation (CREATE_NEW)
    * and so is deliberately NOT overwrite-idempotent: a re-run must
    * start from an empty table, exactly like a real lake table that
    * is created once. */
  private def freshScratch(dir: String, tag: String): String = {
    val p = scratch(dir, tag)
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles()
      if (kids != null) kids.foreach(rm)
      f.delete(); ()
    }
    val root = new java.io.File(p)
    val kids = root.listFiles()
    if (kids != null) kids.foreach(rm)
    p
  }

  /** Build (once per scratch dir) a months-partitioned copy of orders
    * — the "directory of per-exposure files" layout the reference
    * globs (dataset_base.py:24-53). */
  private def ordersAsFiles(s: SparkSession, dir: String): String = {
    val dataDir = scratch(dir, "orders_files")
    if (!Files.exists(Paths.get(s"$dataDir/_SUCCESS"))) {
      t(s, dir, "orders")
        .withColumn("mon", month(col("o_orderdate")))
        .repartition(col("mon"))
        .write.mode("overwrite").partitionBy("mon").parquet(dataDir)
    }
    dataDir
  }

  /** Months+shard layout for the S16 compaction planner: exactly one
    * file per (mon, sub) dir — multiple files inside each month dir,
    * so per-dir greedy bin packing is observable. sub = o_orderkey
    * mod 4 keeps per-file contents (hence counts) derivable from the
    * base table by the oracle. */
  private def ordersAsShardedFiles(s: SparkSession, dir: String): String = {
    val dataDir = scratch(dir, "orders_files_sharded")
    if (!Files.exists(Paths.get(s"$dataDir/_SUCCESS"))) {
      t(s, dir, "orders")
        .withColumn("mon", month(col("o_orderdate")))
        .withColumn("sub", pmod(col("o_orderkey"), lit(4)).cast(LongType))
        .repartition(col("mon"), col("sub"))
        .write.mode("overwrite").partitionBy("mon", "sub").parquet(dataDir)
    }
    dataDir
  }

  /** Build (once per scratch dir) a directory of REAL FITS files —
    * one per month of orders, the reference's native per-exposure
    * layout (df_utils.py:11-74; metadata.py:106-175). The primary
    * header carries deterministic calibration-style keys derived from
    * the month; the BINTABLE extension holds the month's rows sorted
    * by o_orderkey. Written from executors — the driver never holds
    * row data — and byte-deterministic, so oracles derive identical
    * truth from the base table. */
  private def ordersAsFits(s: SparkSession, dir: String): String = {
    val dataDir = scratch(dir, "orders_fits")
    if (!Files.exists(Paths.get(s"$dataDir/_DONE"))) {
      import s.implicits._
      t(s, dir, "orders")
        .select(month(col("o_orderdate")).as("mon"), col("o_orderkey"),
          col("o_custkey"), col("o_orderstatus"), col("o_totalprice"))
        .as[(Int, Long, Long, String, Double)]
        .repartition(col("mon"))
        .sortWithinPartitions("mon", "o_orderkey")
        .foreachPartition { (it: Iterator[(Int, Long, Long, String, Double)]) =>
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Long, String, Double)]
          def flush(): Unit = if (buf.nonEmpty) {
            val mon = buf.head._1
            val rows: Seq[Seq[Any]] = buf.toSeq.map {
              case (_, ok, ck, st, tp) => Seq[Any](ok, ck, st, tp)
            }
            val primary: Seq[(String, Any)] = Seq(
              "EXPID" -> (202400L + mon), "RCID" -> (mon % 4).toLong,
              "FIELDID" -> (600L + mon), "FILTERID" -> 2L,
              "MAGZP" -> (26.0 + mon.toDouble / 100.0),
              "MAGZPUNC" -> (0.001 * mon),
              "APCOR1" -> (-0.25 * mon), "APCOR2" -> (-0.125 * mon),
              "OBSMJD" -> (58000.5 + mon))
            val bytes = FitsCodec.buildFits(primary,
              Seq("o_orderkey" -> "1K", "o_custkey" -> "1K",
                "o_orderstatus" -> "1A", "o_totalprice" -> "1D"), rows)
            Files.write(Paths.get(f"$dataDir/obs_$mon%02d.fits"), bytes)
            buf.clear()
          }
          it.foreach { r =>
            if (buf.nonEmpty && buf.head._1 != r._1) flush()
            buf += r
          }
          flush()
        }
      Files.write(Paths.get(s"$dataDir/_DONE"), Array.emptyByteArray)
    }
    dataDir
  }

  /** Variable-length fixture: one FITS per month of orders; each row
    * is an order carrying a 1PJ column (its high quantities, by
    * linenumber) and a 1QD column (its extended prices, by
    * linenumber) — true heap-descriptor cells of varying length,
    * including empty ones (astropy keeps such cells,
    * df_utils.py:62-66). Odd months are written GZIPPED (.fits.gz),
    * so the mixed directory exercises transparent inflation inside
    * the same oracle-gated scan. Byte-deterministic like
    * [[ordersAsFits]]; only orders with lineitems appear (the oracle
    * groups lineitem, so both sides see the same 14743 keys). */
  private def ordersAsVarlenFits(s: SparkSession, dir: String): String = {
    val dataDir = scratch(dir, "orders_fits_varlen")
    if (!Files.exists(Paths.get(s"$dataDir/_DONE"))) {
      import s.implicits._
      val perOrder = t(s, dir, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(sort_array(collect_list(struct(col("l_linenumber"),
          col("l_quantity"), col("l_extendedprice")))).as("ls"))
      t(s, dir, "orders")
        .select(month(col("o_orderdate")).as("mon"), col("o_orderkey"))
        .join(perOrder, col("o_orderkey") === col("l_orderkey"))
        .select(col("mon"), col("o_orderkey"),
          expr("transform(filter(ls, x -> x.l_quantity > 45), " +
            "x -> CAST(x.l_quantity AS INT))").as("qty_hi"),
          expr("transform(ls, x -> x.l_extendedprice)").as("prices"))
        .as[(Int, Long, Seq[Int], Seq[Double])]
        .repartition(col("mon"))
        .sortWithinPartitions("mon", "o_orderkey")
        .foreachPartition { (it: Iterator[(Int, Long, Seq[Int], Seq[Double])]) =>
          val buf = scala.collection.mutable.ArrayBuffer
            .empty[(Int, Long, Seq[Int], Seq[Double])]
          // bound task memory: a month larger than the cap splits into
          // obs_<mon>_<part> files — the query's truth is row content,
          // never file layout, so chunking is invisible to the oracle
          // (and a single-buffered-month builder OOMs at ScaleStudy's
          // 16x corpus)
          val MaxRowsPerFile = 16384
          var part = 0
          def flush(): Unit = if (buf.nonEmpty) {
            val mon = buf.head._1
            val rows: Seq[Seq[Any]] = buf.toSeq.map {
              case (_, ok, hi, ps) => Seq[Any](ok, hi, ps)
            }
            val bytes = FitsCodec.buildFits(
              Seq("EXPID" -> (202400L + mon), "RCID" -> (mon % 4).toLong),
              Seq("o_orderkey" -> "1K", "qty_hi" -> "1PJ", "prices" -> "1QD"),
              rows)
            val stem = f"$dataDir/obs_$mon%02d_$part%03d"
            if (mon % 2 == 1) {
              val bos = new java.io.ByteArrayOutputStream(bytes.length / 2)
              val gz = new java.util.zip.GZIPOutputStream(bos)
              gz.write(bytes); gz.close()
              Files.write(Paths.get(s"$stem.fits.gz"), bos.toByteArray)
            } else
              Files.write(Paths.get(s"$stem.fits"), bytes)
            part += 1
            buf.clear()
          }
          it.foreach { r =>
            if (buf.nonEmpty && (buf.head._1 != r._1 || buf.size >= MaxRowsPerFile))
              flush()
            buf += r
          }
          flush()
        }
      Files.write(Paths.get(s"$dataDir/_DONE"), Array.emptyByteArray)
    }
    dataDir
  }

  /** S2 on variable-length columns: the one input shape the engine
    * previously refused that astropy accepts (VERDICT r9 missing #1).
    * The scan keeps the P/Q array cells (ArrayType columns), and the
    * query folds them back to scalars the lineitem table oracles
    * exactly: per-order high-quantity count/sum and item count/max
    * price — empty varlen cells included (orders with no qty > 45
    * line). Half the files are gzipped; the same scan inflates them
    * transparently. */
  private val s2v = Q(
    "s2_fits_varlen",
    Some("""SELECT l_orderkey AS o_orderkey,
              CAST(count(CASE WHEN l_quantity > 45 THEN 1 END) AS INTEGER) AS n_hi,
              CAST(coalesce(sum(CASE WHEN l_quantity > 45
                THEN CAST(l_quantity AS BIGINT) END), 0) AS BIGINT) AS sum_hi,
              CAST(count(*) AS INTEGER) AS n_items,
              max(l_extendedprice) AS max_price
            FROM lineitem GROUP BY 1 ORDER BY 1"""),
    (s, dir) =>
      FitsSource.readTable(s, ordersAsVarlenFits(s, dir), extension = 1,
          keepArrayCols = true)
        .select(col("o_orderkey"),
          size(col("qty_hi")).as("n_hi"),
          aggregate(col("qty_hi"), lit(0L),
            (a, x) => a + x.cast(LongType)).as("sum_hi"),
          size(col("prices")).as("n_items"),
          array_max(col("prices")).as("max_price"))
        .orderBy("o_orderkey"))

  /** S2 on the NATIVE format: fits_to_df over a directory of real
    * FITS files (df_utils.py:11-74) — wildcard column selection
    * ("*price" substring-matches o_totalprice), pandas-dialect row
    * filter compiled to Catalyst above the parse seam. The oracle
    * never sees a FITS byte: file contents are derived from orders,
    * so the filtered base table is ground truth for the whole
    * writer → parser → filter chain (doubles round-trip bit-exact
    * through big-endian IEEE). */
  private val s2f = Q(
    "s2_fits_scan",
    Some("""SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
            WHERE o_totalprice > 100000 AND o_orderstatus = 'O'
            ORDER BY o_orderkey"""),
    (s, dir) =>
      FitsSource.readTable(s, ordersAsFits(s, dir), extension = 1,
          selectColumns = Seq("o_orderkey", "o_orderstatus", "*price"),
          selectRows = Some("o_totalprice > 100000 and o_orderstatus == 'O'"))
        .orderBy("o_orderkey"))

  /** S3 on the NATIVE format: load_header_meta (metadata.py:106-175)
    * — one row per file from the primary headers, wildcard key match
    * (APCOR* takes APCOR1/APCOR2; MAGZP substring-takes MAGZPUNC too,
    * exactly the reference's matching rule), OBSID =
    * int(str(EXPID) + str(RCID)). Closed-form oracle: every header
    * value is a fixed function of the month. */
  private val s3f = Q(
    "s3_fits_headers",
    Some("""WITH m AS (SELECT DISTINCT month(o_orderdate) AS mon FROM orders)
            SELECT 'obs_' || lpad(CAST(mon AS VARCHAR), 2, '0') || '.fits' AS file,
              CAST(202400 + mon AS BIGINT) AS EXPID,
              CAST(mon % 4 AS BIGINT) AS RCID,
              CAST(600 + mon AS BIGINT) AS FIELDID,
              26.0 + CAST(mon AS DOUBLE) / 100.0 AS MAGZP,
              0.001 * CAST(mon AS DOUBLE) AS MAGZPUNC,
              -0.25 * CAST(mon AS DOUBLE) AS APCOR1,
              -0.125 * CAST(mon AS DOUBLE) AS APCOR2,
              58000.5 + CAST(mon AS DOUBLE) AS OBSMJD,
              CAST(CAST(202400 + mon AS VARCHAR) || CAST(mon % 4 AS VARCHAR)
                AS BIGINT) AS OBSID
            FROM m ORDER BY file"""),
    (s, dir) =>
      FitsSource.loadHeaderMeta(s, ordersAsFits(s, dir),
          Seq("EXPID", "RCID", "FIELDID", "MAGZP", "APCOR*", "OBSMJD"))
        .select(regexp_extract(col("PATH"), "[^/]+$", 0).as("file"),
          col("EXPID"), col("RCID"), col("FIELDID"), col("MAGZP"),
          col("MAGZPUNC"), col("APCOR1"), col("APCOR2"), col("OBSMJD"),
          col("OBSID"))
        .orderBy("file"))

  /** EP1 on the NATIVE format: header scan → metadata query (first
    * quarter's files) → read only the surviving 3 files → row filter.
    * The oracle reproduces the pruning as a month predicate on the
    * base table. */
  private val ep1f = Q(
    "ep1_fits_pruned_load",
    Some("""SELECT o_orderkey, o_custkey, o_totalprice FROM orders
            WHERE month(o_orderdate) <= 3 AND o_totalprice > 50000
            ORDER BY o_orderkey"""),
    (s, dir) =>
      FitsSource.prunedLoad(s, ordersAsFits(s, dir),
          headerKeys = Seq("EXPID", "RCID"),
          metaExpr = "EXPID <= 202403",
          selectColumns = Seq("o_orderkey", "o_custkey", "o_totalprice"),
          selectRows = Some("o_totalprice > 50000"))
        .orderBy("o_orderkey"))

  /** S1: directory scan — the file list itself as data
    * (dataset_base.py:24-53; `input_file_name` is the PATH column). */
  private val s1 = Q(
    "s1_file_scan",
    Some("""SELECT 'lineitem.parquet' AS file, count(*) AS n FROM lineitem"""),
    (s, dir) =>
      // group on the raw path, strip to basename after the aggregate:
      // one regexp per file instead of one per row
      t(s, dir, "lineitem")
        .groupBy(input_file_name().as("path"))
        .agg(count(lit(1)).as("n"))
        .select(regexp_extract(col("path"), "[^/]+$", 0).as("file"), col("n")))

  /** S3+S7+EP1: per-file metadata (cache-or-reload) + metadata-pruned
    * source read + J1 metadata merge-back — the dataset.load()
    * lifecycle (dataset.py:151-170) on a real multi-file layout.
    * Pruning here physically reads 3 of 12 files. */
  private val ep1 = Q(
    "ep1_pruned_load",
    Some("""WITH o AS (SELECT *, month(o_orderdate) AS mon FROM orders),
            m AS (SELECT mon, count(*) AS n_rows FROM o GROUP BY mon)
            SELECT o.o_orderkey, o.o_totalprice, o.mon, m.n_rows
            FROM o JOIN m ON o.mon = m.mon
            WHERE o.mon <= 3 AND o.o_totalprice > 50000
            ORDER BY o.o_orderkey"""),
    (s, dir) => {
      val ds = new DatasetSession(s, "orders", ordersAsFiles(s, dir), scratch(dir, "cache"))
      ds.loadMetadata(
        aggs = Seq(max(col("mon")).as("mon"), count(lit(1)).as("n_rows")),
        requestedCols = Seq("PATH", "mon", "n_rows"))
      ds.loadObjtable(
        metaExpr = Some("mon <= 3"),
        selectCols = Seq("o_orderkey", "o_totalprice", "mon"),
        rowFilter = Some("o_totalprice > 50000"))
      ds.mergeMetadataToSources(Seq("n_rows"), joinOn = "mon")
        .select(col("o_orderkey"), col("o_totalprice"), col("mon").cast(LongType).as("mon"), col("n_rows"))
        .orderBy("o_orderkey")
    })

  /** S5+S6+S11: gzip CSV sink then CSV source round-trip
    * (dataset_base.py:98-170), schema preserved. */
  private val s5 = Q(
    "s5_csv_roundtrip",
    Some("""SELECT * FROM nation ORDER BY n_nationkey"""),
    (s, dir) => {
      val n = t(s, dir, "nation")
      val path = scratch(dir, "nation_csv")
      n.coalesce(1).write.mode("overwrite")
        .option("header", "true").option("compression", "gzip").csv(path)
      s.read.schema(n.schema).option("header", "true").csv(path)
        .orderBy("n_nationkey")
    })

  /** S10/X-S20: diagnostic report sink round-trip — the data layer of
    * the reference's saved figures (dataset_base.py:72-96 save_fig;
    * the histogram blocks at _objtable_methods.py:144-155). The A14
    * histogram frame goes through `Reports.dump` (csv.gz + JSON
    * sidecar) and is read back with its schema; the sidecar's row
    * count is cross-checked against the frame (a mismatch yields
    * zero rows → hash gate fails), so writer, sidecar and reader are
    * all inside the oracle gate. Aggregate-sized by construction —
    * the fact table never touches the sink. */
  private val s20 = Q(
    "s20_report_roundtrip",
    Some("""SELECT CAST(floor((l_quantity - 1) / 5) AS BIGINT) AS bin, count(*) AS n
            FROM lineitem GROUP BY bin ORDER BY bin"""),
    (s, dir) => {
      val hist = t(s, dir, "lineitem")
        .groupBy(floor((col("l_quantity") - 1) / 5).as("bin"))
        .agg(count(lit(1)).as("n"))
      val (csvDir, sidecar) = graft.sources.Reports.dump(
        hist, scratch(dir, "reports"), "a14_histogram",
        provenance = s"lineitem@$dir")
      val metaRows = s.read.json(sidecar).select(col("rows")).head().getLong(0)
      // driver-side equality (both sides are already driver longs):
      // lit(a) === lit(b) with a == b logs Spark's "trivially true
      // equals predicate" WARN on every bench run (VERDICT r12 #4)
      s.read.schema(hist.schema).option("header", "true").csv(csvDir)
        .where(lit(metaRows == hist.count()))
        .orderBy("bin")
    })

  /** S6 flavor: gzip JSON sink + source round-trip (schema-preserving
    * reads across text formats). */
  private val s6json = Q(
    "s6_json_roundtrip",
    Some("""SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
            FROM customer ORDER BY c_custkey"""),
    (s, dir) => {
      val c = t(s, dir, "customer")
      val path = scratch(dir, "customer_json")
      c.coalesce(1).write.mode("overwrite")
        .option("compression", "gzip").json(path)
      s.read.schema(c.schema).json(path).orderBy("c_custkey")
    })

  /** S6 flavor: ORC sink + source round-trip (columnar alternative). */
  private val s6orc = Q(
    "s6_orc_roundtrip",
    Some("""SELECT s_suppkey, s_name, s_nationkey, s_acctbal
            FROM supplier ORDER BY s_suppkey"""),
    (s, dir) => {
      val sup = t(s, dir, "supplier")
      val path = scratch(dir, "supplier_orc")
      sup.coalesce(1).write.mode("overwrite").orc(path)
      s.read.orc(path).orderBy("s_suppkey")
    })

  /** S7: cache-or-reload — second load must hit the parquet snapshot
    * (column-compat check, dataset.py:81-89). */
  private val s7 = Q(
    "s7_cache_reload",
    Some("""WITH o AS (SELECT month(o_orderdate) AS mon, o_totalprice FROM orders)
            SELECT mon, count(*) AS n_rows,
              CAST(sum(CAST(o_totalprice AS DECIMAL(30,4))) AS DOUBLE) AS sum_price
            FROM o GROUP BY mon ORDER BY mon"""),
    (s, dir) => {
      val ds = new DatasetSession(s, "orders_s7", ordersAsFiles(s, dir), scratch(dir, "cache"))
      val aggs = Seq(max(col("mon")).as("mon2"), count(lit(1)).as("n_rows"),
        Det.dsum(col("o_totalprice")).as("sum_price"))
      val cols = Seq("PATH", "mon2", "n_rows", "sum_price")
      ds.loadMetadata(aggs, cols, forceReload = true)   // build + write snapshot
      ds.loadMetadata(aggs, cols)                       // cache hit
        .select(col("mon2").cast(LongType).as("mon"), col("n_rows"), col("sum_price"))
        .orderBy("mon")
    })

  /** Streaming surface, tumbling windows: hourly per-type counts
    * (batch flavor here; StreamsSpec drives readStream). */
  /** X-S14: DYNAMIC partition pruning — the fact table is hive-
    * partitioned on the join key, and the dimension side's filter
    * values are only known at runtime (a LIKE over the type column),
    * so static pruning can't help; Spark's DPP inserts a
    * `dynamicpruningexpression` on the fact scan, reusing the dim
    * broadcast, and only the matching partition directories are read
    * at all. At 100 TB this is the difference between scanning 2 of
    * 5 date/type partitions and scanning everything; the plan is
    * asserted in PartitionPruneSpec. Oracle: the equivalent
    * IN-subquery semi join on the unpartitioned table. */
  private val s14 = Q(
    "s14_dpp_prune",
    Some(s"""SELECT event_type, count(*) AS n, ${Det.sqlDsum("value", 6)} AS v_sum
             FROM events WHERE event_type IN
               (SELECT DISTINCT event_type FROM events WHERE event_type LIKE '%r%')
             GROUP BY event_type ORDER BY event_type"""),
    (s, dir) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_events_dpp").getAbsolutePath
      Tables.load(s, dir, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      val fact = Tables.readParquet(s, out)
      val dim = Tables.load(s, dir, "events")
        .where(col("event_type").like("%r%"))
        .select("event_type").distinct()
      fact.join(dim, Seq("event_type"), "left_semi")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value"), 6).as("v_sum"))
        .orderBy("event_type")
    })

  /** X-ST8: CDC current state — events as a change stream per user;
    * state = the latest change under the (ts, event_id) total order,
    * latest 'error' = tombstone (key absent), n_changes counts every
    * change. The streaming twin applies the SAME state through a
    * foreachBatch newer-wins MERGE one micro-batch at a time
    * (Streams.cdcApplyStream); StatefulStreamsSpec asserts the final
    * state is identical however the stream is batched. */
  private val st4 = Q(
    "st_cdc_state",
    Some("""WITH x AS (SELECT user_id, ts, event_id, event_type, value,
              row_number() OVER (PARTITION BY user_id
                ORDER BY ts DESC, event_id DESC) AS rn,
              count(*) OVER (PARTITION BY user_id) AS n_changes
            FROM events)
            SELECT user_id, ts AS last_ts, event_type AS last_type,
              value AS last_value, n_changes
            FROM x WHERE rn = 1 AND event_type <> 'error'
            ORDER BY user_id"""),
    (s, dir) =>
      Streams.cdcCurrentState(t(s, dir, "events")).orderBy("user_id"))

  private val st1 = Q(
    "st_hourly_counts",
    Some(s"""SELECT date_trunc('hour', ts) AS bucket, event_type,
             count(*) AS n, ${Det.sqlDsum("value", 6)} AS v_sum
             FROM events GROUP BY bucket, event_type
             ORDER BY bucket, event_type"""),
    (s, dir) =>
      Streams.hourlyTypeCounts(t(s, dir, "events"))
        .orderBy("bucket", "event_type"))

  /** Streaming surface, session windows: 30-minute-gap user sessions.
    * Oracle: gaps-and-islands (new session when diff >= gap, matching
    * session_window's `ts < last + gap` merge rule). */
  private val st2 = Q(
    "st_session_windows",
    Some(s"""WITH x AS (SELECT user_id, ts, value,
               CASE WHEN lag(ts) OVER w IS NULL
                 OR ts - lag(ts) OVER w >= INTERVAL '30 minutes' THEN 1 ELSE 0 END AS ns
               FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
             y AS (SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts
               ROWS UNBOUNDED PRECEDING) AS sid FROM x)
             SELECT user_id, min(ts) AS session_start, count(*) AS n,
               ${Det.sqlDsum("value", 6)} AS v_sum
             FROM y GROUP BY user_id, sid
             ORDER BY user_id, session_start"""),
    (s, dir) =>
      Streams.userSessions(t(s, dir, "events"))
        .orderBy("user_id", "session_start"))

  /** Streaming surface, dedup: first event per (hour, user, type) +
    * duplicate count, as an order-independent min-by aggregate (the
    * deterministic form of streaming dropDuplicates). */
  private val st3 = Q(
    "st_dedup_first",
    Some("""WITH r AS (SELECT date_trunc('hour', ts) AS bucket, user_id, event_type,
              ts, event_id,
              row_number() OVER (PARTITION BY date_trunc('hour', ts), user_id, event_type
                ORDER BY ts, event_id) AS rn,
              count(*) OVER (PARTITION BY date_trunc('hour', ts), user_id, event_type)
                AS n_events
            FROM events)
            SELECT bucket, user_id, event_type, ts AS first_ts,
              event_id AS first_id, n_events
            FROM r WHERE rn = 1 ORDER BY bucket, user_id, event_type"""),
    (s, dir) =>
      graft.streaming.Streams.dedupFirstPerKey(t(s, dir, "events"))
        .orderBy("bucket", "user_id", "event_type"))

  /** Multimodal: opaque binary payload + typed metadata struct
    * (flattened scalars for the hash compare). */
  private val mm1 = Q(
    "mm_binary_meta",
    Some("""SELECT doc_id, octet_length(encode(text)) AS n_bytes,
            md5(text) AS checksum, ascii(text) AS first_code
            FROM documents ORDER BY doc_id"""),
    (s, dir) =>
      Multimodal.withBlob(t(s, dir, "documents"), "text")
        .select(col("doc_id"), col("media_meta.n_bytes").cast(LongType).as("n_bytes"),
          col("media_meta.checksum").as("checksum"),
          ascii(col("text")).as("first_code"))
        .orderBy("doc_id"))

  /** Multimodal: STUB decode + feature extraction via mapPartitions
    * record batches (the mapInPandas shape); features exploded to
    * scalars so the oracle can mirror the deterministic fake decode. */
  /** S12 (scale extension): hive-partitioned parquet layout —
    * write partitioned by a low-cardinality column, read back with a
    * partition predicate. At 100 TB this is THE layout lever: the
    * filtered scan lists only the matching partition directories
    * (ScaleSpec asserts `inputFiles` stays inside
    * `event_type=click/`), so a 1-of-5 partition query reads 1/5 of
    * the bytes before any row-level work. Oracle: same filter+agg
    * over the original table — the round-trip must be lossless. */
  private val s12 = Q(
    "s12_partitioned_roundtrip",
    Some(s"""SELECT user_id, count(*) AS n,
             ${Det.sqlDsum("value", 6)} AS v_sum
             FROM events WHERE event_type = 'click'
             GROUP BY user_id ORDER BY user_id"""),
    (s, dir) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_events_part").getAbsolutePath
      Tables.load(s, dir, "events").write.mode("overwrite")
        .partitionBy("event_type").parquet(out)
      Tables.readParquet(s, out).where(col("event_type") === "click")
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), Det.dsum(col("value"), 6).as("v_sum"))
        .orderBy("user_id")
    })

  /** S13 (scale extension): schema evolution across file batches —
    * an early batch lacks a column a later batch has;
    * `mergeSchema=true` reads both under one unioned schema with
    * nulls for the missing column. This is how a long-lived 100 TB
    * table actually grows columns; the oracle unions the two shapes
    * explicitly. */
  private val s13 = Q(
    "s13_schema_evolution",
    Some(s"""WITH b1 AS (SELECT event_id, user_id, CAST(NULL AS DOUBLE) AS value
               FROM events WHERE event_id % 2 = 0),
             b2 AS (SELECT event_id, user_id, value FROM events
               WHERE event_id % 2 = 1),
             u AS (SELECT * FROM b1 UNION ALL SELECT * FROM b2)
             SELECT user_id, count(*) AS n, count(value) AS n_with_value,
               ${Det.sqlDsum("value", 6)} AS v_sum
             FROM u GROUP BY user_id ORDER BY user_id"""),
    (s, dir) => {
      val out = new java.io.File(
        sys.props("java.io.tmpdir"), "graft_events_evo").getAbsolutePath
      val ev = Tables.load(s, dir, "events")
      ev.where(col("event_id") % 2 === 0).select("event_id", "user_id")
        .write.mode("overwrite").parquet(s"$out/batch=1")
      ev.where(col("event_id") % 2 === 1).select("event_id", "user_id", "value")
        .write.mode("overwrite").parquet(s"$out/batch=2")
      s.read.option("mergeSchema", "true").parquet(out)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), count(col("value")).as("n_with_value"),
          Det.dsum(col("value"), 6).as("v_sum"))
        .orderBy("user_id")
    })

  /** Multimodal: STUB keyframe sampling — every 4th 32-byte chunk of
    * the payload becomes one output row, pure column expressions (no
    * UDF, no shuffle). The oracle mirrors the byte slices with
    * VARCHAR substrings, valid because this corpus is pure ASCII
    * (byte == char); the engine path itself is binary-only. */
  private val mm3 = Q(
    "mm_frame_sample",
    Some("""WITH f AS (SELECT doc_id, text,
              unnest(list_filter(range(0, CAST(floor((length(text) - 1) / 32)
                AS BIGINT) + 1), i -> i % 4 = 0)) AS frame_no
              FROM documents)
            SELECT doc_id, frame_no,
              md5(substring(text, CAST(frame_no * 32 + 1 AS INT), 32)) AS frame_md5
            FROM f ORDER BY doc_id, frame_no"""),
    (s, dir) =>
      Multimodal.frameSampleStub(
          Multimodal.withBlob(t(s, dir, "documents"), "text"),
          "doc_id", "blob", frameBytes = 32, every = 4)
        .select(col("doc_id"), col("frame_no").cast(LongType).as("frame_no"),
          md5(col("frame")).as("frame_md5"))
        .orderBy("doc_id", "frame_no"))

  private val mm2 = Q(
    "mm_decode_features",
    Some("""WITH f AS (SELECT doc_id, length(text) AS n, CAST(i.range AS BIGINT) AS dim
              FROM documents, range(8) i),
            b AS (SELECT doc_id, dim, (dim * n) // 8 AS lo,
              greatest((dim * n) // 8 + 1, ((dim + 1) * n) // 8) AS hi, n FROM f)
            SELECT b.doc_id, b.dim,
              CAST(list_sum(list_transform(range(lo + 1, hi + 1),
                j -> ascii(substr(d.text, CAST(j AS INT), 1)))) AS DOUBLE)
                / (hi - lo) AS feature
            FROM b JOIN documents d ON b.doc_id = d.doc_id
            ORDER BY b.doc_id, dim"""),
    (s, dir) => {
      val blobbed = Multimodal.withBlob(t(s, dir, "documents"), "text")
      Multimodal.decodeFeaturesStub(blobbed, "doc_id", "blob", dim = 8)
        .select(col("doc_id"), posexplode(col("features")).as(Seq("dim", "feature")))
        .select(col("doc_id"), col("dim").cast(LongType).as("dim"), col("feature"))
        .orderBy("doc_id", "dim")
    })

  /** Multimodal: STUB nearest-neighbor resize — out[i] =
    * blob[(i·n)/16] over the byte raster; the index math both engines
    * mirror exactly (the corpus bytes are the utf-8 text stand-in, so
    * the oracle picks the same positions with substr/ascii). */
  private val mm4 = Q(
    "mm_resize",
    Some("""WITH f AS (SELECT doc_id, length(text) AS n, CAST(i.range AS BIGINT) AS i
              FROM documents, range(16) i)
            SELECT f.doc_id, f.i,
              CAST(ascii(substr(d.text, CAST((f.i * f.n) // 16 + 1 AS INT), 1))
                AS BIGINT) AS byte_val
            FROM f JOIN documents d USING (doc_id)
            ORDER BY doc_id, i"""),
    (s, dir) =>
      Multimodal.resizeStub(
          Multimodal.withBlob(t(s, dir, "documents"), "text"), "doc_id", "blob",
          outBytes = 16)
        .orderBy("doc_id", "i"))

  /** X-MM5: REAL WAV decode, end-to-end with an independent
    * closed-form oracle. Per part key k ≤ 200 the engine SYNTHESIZES
    * a 16-bit mono PCM WAV (400-sample square wave at 8 kHz,
    * amplitude ((k%8)+1)·4095 — max 32760, safely below
    * Short.MaxValue so the ±a alternation never overflows to a DC
    * constant), runs it through the binary decode
    * operator, and emits rate/duration/rms/peak. The oracle never
    * sees a byte: a ±a square wave has rms = peak = a/32768 and
    * duration 400/8000 EXACTLY (power-of-two fractions, bit-exact in
    * IEEE double on both engines) — any disagreement between the
    * writer, the parser, or the feature math fails the hash gate. */
  private val mm5 = Q(
    "mm_wav_decode",
    Some("""SELECT CAST(p_partkey AS BIGINT) AS media_id,
              CAST(8000 AS DOUBLE) AS sample_rate,
              CAST(0.05 AS DOUBLE) AS duration_sec,
              CAST(((p_partkey % 8) + 1) * 4095 AS DOUBLE) / 32768 AS rms,
              CAST(((p_partkey % 8) + 1) * 4095 AS DOUBLE) / 32768 AS peak
            FROM part WHERE p_partkey <= 200 ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "part")
        .where(col("p_partkey") <= 200)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .map { k =>
          val amp = (((k % 8) + 1) * 4095).toInt
          assert(amp <= Short.MaxValue, s"amplitude $amp overflows Short")
          val samples = Array.tabulate[Short](400)(i =>
            if (i % 2 == 0) amp.toShort else (-amp).toShort)
          (k, MediaCodecs.buildPcmWav(8000, samples))
        }.toDF("media_id", "blob")
      Multimodal.decodeFeaturesStub(media, "media_id", "blob", dim = 8)
        .select(col("media_id"),
          col("features").getItem(1).as("sample_rate"),
          col("features").getItem(3).as("duration_sec"),
          col("features").getItem(4).as("rms"),
          col("features").getItem(5).as("peak"))
        .orderBy("media_id")
    })

  /** X-MM6: REAL PPM decode with the same independent-oracle design:
    * a 4×2 solid-color P6 image per key, channel values (k·3, k·5,
    * k·7) mod 256 — decoded channel means are exact integers, luma is
    * the one float expression, mirrored term-for-term (both engines
    * evaluate 0.299r + 0.587g + 0.114b as doubles left-to-right). */
  private val mm6 = Q(
    "mm_ppm_decode",
    Some("""SELECT CAST(p_partkey AS BIGINT) AS media_id,
              CAST(4 AS DOUBLE) AS width, CAST(2 AS DOUBLE) AS height,
              CAST((p_partkey * 3) % 256 AS DOUBLE) AS mean_r,
              CAST((p_partkey * 5) % 256 AS DOUBLE) AS mean_g,
              CAST((p_partkey * 7) % 256 AS DOUBLE) AS mean_b,
              CAST(0.299 AS DOUBLE) * CAST((p_partkey * 3) % 256 AS DOUBLE)
                + CAST(0.587 AS DOUBLE) * CAST((p_partkey * 5) % 256 AS DOUBLE)
                + CAST(0.114 AS DOUBLE) * CAST((p_partkey * 7) % 256 AS DOUBLE)
                AS mean_luma
            FROM part WHERE p_partkey <= 200 ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "part")
        .where(col("p_partkey") <= 200)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .map { k =>
          val (r, g, b) = (((k * 3) % 256).toByte, ((k * 5) % 256).toByte,
            ((k * 7) % 256).toByte)
          val rgb = Array.fill(8)(Array(r, g, b)).flatten
          (k, MediaCodecs.buildPpm(4, 2, rgb))
        }.toDF("media_id", "blob")
      Multimodal.decodeFeaturesStub(media, "media_id", "blob", dim = 8)
        .select(col("media_id"),
          col("features").getItem(1).as("width"),
          col("features").getItem(2).as("height"),
          col("features").getItem(3).as("mean_r"),
          col("features").getItem(4).as("mean_g"),
          col("features").getItem(5).as("mean_b"),
          col("features").getItem(6).as("mean_luma"))
        .orderBy("media_id")
    })

  /** X-MM11: REAL PNG decode — the first COMPRESSED container
    * through the media seam: CRC-verified chunk walk, JDK zlib
    * inflate, and the full five-filter scanline reconstruction
    * (None/Sub/Up/Average/Paeth). Each key's 4×2 solid-color image is
    * WRITTEN with filter type (key % 5) applied to every scanline —
    * so all five reconstruction paths are exercised inside the
    * oracle-gated query while the decoded channel means stay
    * filter-independent, which is exactly what lets the oracle stay
    * CLOSED-FORM (means = the synthesis arithmetic, the mm_ppm
    * design; a wrong filter inverse would shift the means and fail
    * the hash). Round-trip pixel equality per filter type is pinned
    * byte-for-byte in MediaCodecsSpec. */
  private val mm11 = Q(
    "mm_png_decode",
    Some("""SELECT CAST(p_partkey AS BIGINT) AS media_id,
              CAST(p_partkey % 5 AS BIGINT) AS filter_type,
              CAST(4 AS DOUBLE) AS width, CAST(2 AS DOUBLE) AS height,
              CAST((p_partkey * 3) % 256 AS DOUBLE) AS mean_r,
              CAST((p_partkey * 5) % 256 AS DOUBLE) AS mean_g,
              CAST((p_partkey * 7) % 256 AS DOUBLE) AS mean_b,
              CAST(0.299 AS DOUBLE) * CAST((p_partkey * 3) % 256 AS DOUBLE)
                + CAST(0.587 AS DOUBLE) * CAST((p_partkey * 5) % 256 AS DOUBLE)
                + CAST(0.114 AS DOUBLE) * CAST((p_partkey * 7) % 256 AS DOUBLE)
                AS mean_luma
            FROM part WHERE p_partkey <= 200 ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "part")
        .where(col("p_partkey") <= 200)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .map { k =>
          val (r, g, b) = (((k * 3) % 256).toByte, ((k * 5) % 256).toByte,
            ((k * 7) % 256).toByte)
          val rgb = Array.fill(8)(Array(r, g, b)).flatten
          (k, k % 5, MediaCodecs.buildPng(4, 2, rgb, filterType = (k % 5).toInt))
        }.toDF("media_id", "filter_type", "blob")
      val f = Multimodal.decodeFeaturesStub(
        media.select("media_id", "blob"), "media_id", "blob", dim = 8)
      media.select("media_id", "filter_type").join(f, Seq("media_id"))
        .select(col("media_id"), col("filter_type"),
          col("features").getItem(1).as("width"),
          col("features").getItem(2).as("height"),
          col("features").getItem(3).as("mean_r"),
          col("features").getItem(4).as("mean_g"),
          col("features").getItem(5).as("mean_b"),
          col("features").getItem(6).as("mean_luma"))
        .orderBy("media_id")
    })

  /** X-MM7: REAL AU (Sun/NeXT .snd) decode — the second audio
    * container, same closed-form-oracle design as mm_wav_decode: a ±a
    * square wave has rms = peak = a/32768 exactly (a ≤ 32760 < 2¹⁵,
    * so a/32768 is an exact dyadic double on both engines); 320
    * samples at 8 kHz give duration 0.04 exactly. */
  private val mm7 = Q(
    "mm_au_decode",
    Some("""SELECT CAST(p_partkey AS BIGINT) AS media_id,
              CAST(8000 AS DOUBLE) AS sample_rate,
              CAST(0.04 AS DOUBLE) AS duration_sec,
              CAST(((p_partkey % 4) + 1) * 8190 AS DOUBLE) / 32768 AS rms,
              CAST(((p_partkey % 4) + 1) * 8190 AS DOUBLE) / 32768 AS peak
            FROM part WHERE p_partkey <= 200 ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "part")
        .where(col("p_partkey") <= 200)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .map { k =>
          val amp = (((k % 4) + 1) * 8190).toInt
          assert(amp <= Short.MaxValue, s"amplitude $amp overflows Short")
          val samples = Array.tabulate[Short](320)(i =>
            if (i % 2 == 0) amp.toShort else (-amp).toShort)
          (k, MediaCodecs.buildAu(8000, samples))
        }.toDF("media_id", "blob")
      Multimodal.decodeFeaturesStub(media, "media_id", "blob", dim = 8)
        .select(col("media_id"),
          col("features").getItem(1).as("sample_rate"),
          col("features").getItem(3).as("duration_sec"),
          col("features").getItem(4).as("rms"),
          col("features").getItem(5).as("peak"))
        .orderBy("media_id")
    })

  /** X-MM9: REAL AIFF decode — the third audio container (FORM/AIFF,
    * big-endian PCM, 80-bit extended-float rate field), same
    * closed-form-oracle design: ±a square wave has rms = peak =
    * a/32768 exactly; 256 frames at 8 kHz give duration 0.032 (the
    * IEEE division 256/8000 and the decimal literal 0.032 round to
    * the same double on both engines — the mm5/mm7 recipe). */
  /** X-MM10: image perceptual near-dedup — synthesize an 8×8 gray P6
    * per key (keys sharing k%50 render IDENTICAL images), decode
    * through the REAL parser, average-hash with the exact integer
    * comparison 64·v > Σv, then hamming pairs via the shared
    * pigeonhole block join ([[graft.operators.Dedup.hammingPairs64]]).
    * The oracle rebuilds the hash closed-form from the generation
    * arithmetic — any disagreement between writer, parser, hash, or
    * join fails the gate. The multimodal twin of dd_simhash_ham. */
  private val mm10 = Q(
    "mm_ahash_neardup",
    Some("""WITH ks AS (SELECT CAST(p_partkey AS BIGINT) AS media_id,
                CAST(p_partkey AS BIGINT) % 50 AS g
              FROM part WHERE p_partkey <= 200),
            px AS (SELECT media_id, CAST(i.range AS BIGINT) AS i,
                (g * 13 + CAST(i.range AS BIGINT) * ((g % 7) + 1)) % 251 AS v
              FROM ks, range(64) i),
            sm AS (SELECT media_id, CAST(sum(v) AS BIGINT) AS s
              FROM px GROUP BY media_id),
            bits AS (SELECT px.media_id, px.i,
                CASE WHEN 64 * px.v > sm.s THEN 1 ELSE 0 END AS bit
              FROM px JOIN sm USING (media_id)),
            sig AS (SELECT media_id, CAST(sum(
                CASE WHEN bit = 0 THEN 0
                     WHEN i = 63 THEN -9223372036854775808
                     ELSE (CAST(1 AS BIGINT) << CAST(i AS INT)) END)
                AS BIGINT) AS ahash
              FROM bits GROUP BY media_id),
            blocks AS (SELECT media_id, ahash, blk,
                (ahash >> (16 * blk)) & 65535 AS key
              FROM sig CROSS JOIN (VALUES (0), (1), (2), (3)) AS bi(blk)),
            cand AS (SELECT DISTINCT x.media_id AS a, y.media_id AS b,
                x.ahash AS ha, y.ahash AS hb
              FROM blocks x JOIN blocks y ON x.blk = y.blk AND x.key = y.key
              WHERE x.media_id < y.media_id)
            SELECT a, b, CAST(bit_count(xor(ha, hb)) AS INT) AS hamming
            FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY a, b"""),
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "part").where(col("p_partkey") <= 200)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .map { k =>
          val g = k % 50
          val rgb = new Array[Byte](8 * 8 * 3)
          var i = 0
          while (i < 64) {
            val v = ((g * 13 + i * ((g % 7) + 1)) % 251).toByte
            rgb(3 * i) = v; rgb(3 * i + 1) = v; rgb(3 * i + 2) = v
            i += 1
          }
          (k, MediaCodecs.buildPpm(8, 8, rgb))
        }.toDF("media_id", "blob")
      val sig = Multimodal.aHash64(media, "media_id", "blob")
      graft.operators.Dedup.hammingPairs64(sig, "media_id", "ahash", radius = 3)
        .orderBy("a", "b")
    })

  private val mm9 = Q(
    "mm_aiff_decode",
    Some("""SELECT CAST(p_partkey AS BIGINT) AS media_id,
              CAST(8000 AS DOUBLE) AS sample_rate,
              CAST(0.032 AS DOUBLE) AS duration_sec,
              CAST(((p_partkey % 8) + 1) * 4095 AS DOUBLE) / 32768 AS rms,
              CAST(((p_partkey % 8) + 1) * 4095 AS DOUBLE) / 32768 AS peak
            FROM part WHERE p_partkey <= 200 ORDER BY media_id"""),
    (s, dir) => {
      import s.implicits._
      val media = t(s, dir, "part")
        .where(col("p_partkey") <= 200)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .map { k =>
          val amp = (((k % 8) + 1) * 4095).toInt
          assert(amp <= Short.MaxValue, s"amplitude $amp overflows Short")
          val samples = Array.tabulate[Short](256)(i =>
            if (i % 2 == 0) amp.toShort else (-amp).toShort)
          (k, MediaCodecs.buildAiff(8000, samples))
        }.toDF("media_id", "blob")
      Multimodal.decodeFeaturesStub(media, "media_id", "blob", dim = 8)
        .select(col("media_id"),
          col("features").getItem(1).as("sample_rate"),
          col("features").getItem(3).as("duration_sec"),
          col("features").getItem(4).as("rms"),
          col("features").getItem(5).as("peak"))
        .orderBy("media_id")
    })

  /** Media FILE sink + directory source: write real .wav files from
    * executors (the raw-audio sink primitive), read the directory
    * back through Spark's binaryFile source, decode through the same
    * seam — the full media round-trip a curation pipeline runs
    * (stage clips → re-ingest → feature-extract), gated by the
    * mm_wav_decode closed form. */
  private def wavSinkDir(s: SparkSession, dir: String): String = {
    val dataDir = scratch(dir, "wav_sink")
    if (!Files.exists(Paths.get(s"$dataDir/_DONE"))) {
      import s.implicits._
      t(s, dir, "part").where(col("p_partkey") <= 100)
        .select(col("p_partkey").cast(LongType)).as[Long]
        .foreachPartition { (it: Iterator[Long]) =>
          it.foreach { k =>
            val amp = (((k % 8) + 1) * 4095).toInt
            val samples = Array.tabulate[Short](400)(i =>
              if (i % 2 == 0) amp.toShort else (-amp).toShort)
            Files.write(Paths.get(f"$dataDir/clip_$k%05d.wav"),
              MediaCodecs.buildPcmWav(8000, samples))
          }
        }
      Files.write(Paths.get(s"$dataDir/_DONE"), Array.emptyByteArray)
    }
    dataDir
  }

  private val mm8 = Q(
    "mm_wav_sink",
    Some("""SELECT CAST(p_partkey AS BIGINT) AS media_id,
              CAST(8000 AS DOUBLE) AS sample_rate,
              CAST(0.05 AS DOUBLE) AS duration_sec,
              CAST(((p_partkey % 8) + 1) * 4095 AS DOUBLE) / 32768 AS rms,
              CAST(((p_partkey % 8) + 1) * 4095 AS DOUBLE) / 32768 AS peak
            FROM part WHERE p_partkey <= 100 ORDER BY media_id"""),
    (s, dir) => {
      val media = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.wav").load(wavSinkDir(s, dir))
        .select(regexp_extract(col("path"), "clip_(\\d+)", 1)
          .cast(LongType).as("media_id"), col("content").as("blob"))
      Multimodal.decodeFeaturesStub(media, "media_id", "blob", dim = 8)
        .select(col("media_id"),
          col("features").getItem(1).as("sample_rate"),
          col("features").getItem(3).as("duration_sec"),
          col("features").getItem(4).as("rms"),
          col("features").getItem(5).as("peak"))
        .orderBy("media_id")
    })

  /** X-S15: bucketed tables + shuffle-free co-located join. Both
    * sides are written `bucketBy(8, key)` into the same bucket
    * layout, so the sort-merge join consumes the scans' bucket
    * partitioning directly — ZERO Exchange in the join subtree
    * (asserted in PartitionPruneSpec), and the follow-up per-order
    * aggregate reuses the same partitioning (grouping keys ⊇ hash
    * key). At 100 TB this is THE repeated-join answer: pay the
    * bucketed write once, then every orderkey join/aggregate over
    * the table runs shuffle-free. The write happens on first use per
    * scale dir (like the S7 snapshot); `.hint("merge")` keeps the
    * demonstration honest where AQE would broadcast the small side.
    * Oracle: the identical join on the unbucketed tables. */
  private val s15 = Q(
    "s15_bucketed_join",
    Some(s"""SELECT o.o_orderkey, o.o_custkey, count(*) AS n_items,
               ${Det.sqlDsum("l.l_extendedprice")} AS sum_price
             FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey
             GROUP BY o.o_orderkey, o.o_custkey ORDER BY o_orderkey"""),
    (s, dir) => bucketedJoin(s, dir))

  /** X-S16: small-file compaction planner — the operational pass every
    * long-lived 100 TB table needs. Reads a months+shard partitioned
    * copy per FILE (`input_file_name`, one aggregate row per physical
    * file), flags files under the target row count, and assigns files
    * to compaction bins by a running-sum window (greedy fill to
    * ~target rows per output file). The window is PARTITIONED BY the
    * partition dir (mon): compaction never merges files across Hive
    * partitions, and the planning query itself stays parallel past
    * metadata-sized file counts — per-dir file lists are bounded by
    * dir size, never the whole table's. The layout is deterministic
    * (exactly one file per (mon, sub) dir, sub = o_orderkey mod 4),
    * so the oracle derives identical truth from the base table
    * without touching the scratch dir. */
  private val s16 = Q(
    "s16_compaction_plan",
    Some("""WITH c AS (SELECT month(o_orderdate) AS mon, o_orderkey % 4 AS sub,
              count(*) AS n_rows FROM orders GROUP BY mon, sub),
            w AS (SELECT mon, sub, n_rows, n_rows < 2500 AS is_small,
              CAST(floor((sum(n_rows) OVER (PARTITION BY mon ORDER BY sub
                  ROWS UNBOUNDED PRECEDING) - n_rows) / 2500.0) AS BIGINT)
                AS compact_bin
              FROM c)
            SELECT * FROM w ORDER BY mon, sub"""),
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val dataDir = ordersAsShardedFiles(s, dir)
      val perFile = Tables.readParquet(s, dataDir)
        .groupBy(input_file_name().as("path"))
        .agg(count(lit(1)).as("n_rows"))
        .select(
          regexp_extract(col("path"), "mon=(\\d+)", 1)
            .cast(LongType).as("mon"),
          regexp_extract(col("path"), "sub=(\\d+)", 1)
            .cast(LongType).as("sub"),
          col("n_rows"))
      val w = Window.partitionBy("mon").orderBy("sub")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      perFile
        .withColumn("is_small", col("n_rows") < 2500)
        .withColumn("compact_bin",
          floor((sum(col("n_rows")).over(w) - col("n_rows")) / 2500.0))
        .orderBy("mon", "sub")
    })

  /** Builds (once per scale dir) the bucketed copies and runs the
    * co-located join; also the subject of PartitionPruneSpec's
    * no-Exchange plan assertion. */
  def bucketedJoin(s: SparkSession, dir: String): DataFrame = {
    import graft.sources.Bucketed
    val key = dir.replaceAll("[^A-Za-z0-9]", "_")
    def ensure(name: String, df: => DataFrame, bucketCol: String): String = {
      val tbl = s"${name}_$key"
      if (!s.catalog.tableExists(tbl)) Bucketed.write(df, tbl, bucketCol, 8)
      tbl
    }
    val ot = ensure("orders_bkt",
      t(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
      "o_orderkey")
    val lt = ensure("lineitem_bkt",
      t(s, dir, "lineitem").select(col("l_orderkey"), col("l_extendedprice")),
      "l_orderkey")
    val o = s.table(ot)
    val l = s.table(lt)
    o.hint("merge").join(l.hint("merge"), o("o_orderkey") === l("l_orderkey"))
      .groupBy(o("o_orderkey"), o("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        Det.dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderkey")
  }

  /** X-S17: z-order (Morton) clustering key — the multi-column
    * data-skipping layout: sorting by the interleaved z-value keeps
    * per-file min/max narrow on BOTH join/filter columns at once, so
    * parquet footer stats skip files for predicates on either
    * (ZOrderSpec measures the range shrink vs a one-column sort).
    * The query validates the bit math cross-engine on real keys. */
  private val s17 = Q(
    "s17_zorder_key",
    Some(s"""SELECT l_orderkey, l_linenumber, l_suppkey, l_partkey,
               ${graft.core.ZOrder.zValueSql("l_suppkey", "l_partkey")} AS zval
             FROM lineitem ORDER BY l_orderkey, l_linenumber"""),
    (s, dir) =>
      t(s, dir, "lineitem").select(
          col("l_orderkey"), col("l_linenumber"), col("l_suppkey"),
          col("l_partkey"),
          graft.core.ZOrder.zValue(col("l_suppkey"), col("l_partkey"))
            .as("zval"))
        .orderBy("l_orderkey", "l_linenumber"))

  /** X-S18: batch MERGE — a deterministic change batch (updates +100
    * on keys ≡0 mod 7, tombstones on ≡3 mod 11, inserts re-keyed
    * +1e8 on ≡1 mod 13) applied to the orders snapshot in one
    * full-outer join; see operators/Merge. */
  private val s18 = Q(
    "s18_upsert_merge",
    Some("""WITH ch AS (
              SELECT o_orderkey, o_custkey, o_totalprice + 100 AS o_totalprice,
                FALSE AS del FROM orders
              WHERE o_orderkey % 7 = 0 AND o_orderkey % 11 <> 3
              UNION ALL
              SELECT o_orderkey, o_custkey, o_totalprice, TRUE FROM orders
              WHERE o_orderkey % 11 = 3
              UNION ALL
              SELECT o_orderkey + 100000000, o_custkey, o_totalprice, FALSE
              FROM orders WHERE o_orderkey % 13 = 1),
            m AS (SELECT
              coalesce(c.o_orderkey, s.o_orderkey) AS o_orderkey,
              CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_custkey
                ELSE s.o_custkey END AS o_custkey,
              CASE WHEN c.o_orderkey IS NOT NULL THEN c.o_totalprice
                ELSE s.o_totalprice END AS o_totalprice,
              coalesce(c.del, FALSE) AS del
              FROM orders s FULL JOIN ch c ON s.o_orderkey = c.o_orderkey)
            SELECT o_orderkey, o_custkey, o_totalprice FROM m
            WHERE NOT del ORDER BY o_orderkey"""),
    (s, dir) => {
      val snap = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      val k = col("o_orderkey")
      val updates = snap.where(k % 7 === 0 && k % 11 =!= 3)
        .withColumn("o_totalprice", col("o_totalprice") + 100)
        .withColumn("_deleted", lit(false))
      val deletes = snap.where(k % 11 === 3)
        .withColumn("_deleted", lit(true))
      val inserts = snap.where(k % 13 === 1)
        .withColumn("o_orderkey", k + 100000000L)
        .withColumn("_deleted", lit(false))
      graft.operators.Merge.upsert(snap,
          updates.unionByName(deletes).unionByName(inserts),
          key = "o_orderkey", deleteCol = "_deleted")
        .orderBy("o_orderkey")
    })

  /** X-S21: manifest-versioned snapshots + TIME TRAVEL with file-level
    * copy-on-write — the minimal Iceberg/Delta commit protocol (see
    * sources/Snapshots). Version 1 snapshots the customer table into 8
    * key buckets; version 2 is an update touching ONLY buckets 0–1
    * (acctbal + 100 for custkey % 8 < 2), so the v2 commit rewrites 2
    * bucket directories and INHERITS the other 6 file lists from the
    * v1 manifest. Both versions are then read back THROUGH their
    * manifests (time travel), summarized, and the file-sharing
    * invariant rides in as an oracle-asserted boolean: if COW ever
    * stops sharing (or shares a touched bucket), `cow_shared_ok`
    * flips and the hash gate fails. The oracle recomputes both
    * versions' content from the base table alone. */
  private val s21 = Q(
    "s21_time_travel",
    Some(s"""WITH v1 AS (SELECT c_acctbal FROM customer),
          v2 AS (SELECT CASE WHEN c_custkey % 8 < 2 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal FROM customer)
          SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
            ${Det.sqlDsum("c_acctbal", 6)} AS bal_sum, TRUE AS cow_shared_ok
          FROM v1
          UNION ALL
          SELECT CAST(2 AS BIGINT), count(*),
            ${Det.sqlDsum("c_acctbal", 6)}, TRUE
          FROM v2 ORDER BY version"""),
    (s, dir) => {
      val (m1, m2) = snapCustomer(s, dir)
      val cowOk = graft.sources.Snapshots.cowShared(m1, m2, snapTouched)
      def summarize(m: graft.sources.Snapshots.Manifest): DataFrame =
        graft.sources.Snapshots.read(s, m)
          .agg(count(lit(1)).as("n_rows"), Det.dsum(col("c_acctbal"), 6).as("bal_sum"))
          .select(lit(m.version.toLong).as("version"), col("n_rows"),
            col("bal_sum"), lit(cowOk).as("cow_shared_ok"))
      summarize(m1).unionByName(summarize(m2)).orderBy("version")
    })

  /** The shared two-version snapshot table for s21/s23: v1 = the
    * customer table in 8 key buckets; v2 = an update touching buckets
    * 0–1 only (acctbal + 100 where custkey % 8 < 2). The table dir is
    * wiped per invocation (freshScratch) — the commit protocol CASes
    * on manifest creation, so re-commits of an existing version are
    * conflicts by design. */
  private val snapTouched = Set(0, 1)
  private def snapCustomer(s: SparkSession, dir: String)
      : (graft.sources.Snapshots.Manifest, graft.sources.Snapshots.Manifest) = {
    import graft.sources.Snapshots
    val tdir = freshScratch(dir, "snap_customer")
    val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
    val bucket = pmod(col("c_custkey"), lit(8))
    val m1 = Snapshots.commit(base, tdir, version = 1, bucket, nBuckets = 8)
    val v2Content = base.where(pmod(col("c_custkey"), lit(8)) < 2)
      .withColumn("c_acctbal", col("c_acctbal") + lit(100.0))
    val m2 = Snapshots.commit(v2Content, tdir, version = 2, bucket,
      nBuckets = 8, parent = Some(m1), touched = Some(snapTouched))
    (m1, m2)
  }

  /** X-S30: additive SCHEMA EVOLUTION over the snapshot protocol —
    * v2 adds a column (c_tier) while rewriting ONLY its touched
    * buckets; inherited v1 files never carry it, and the unified
    * read ([[graft.sources.Snapshots.readMerged]], mergeSchema)
    * surfaces their rows with NULL — old data is never rewritten
    * just to add a column (the Iceberg/Delta additive semantics).
    * Gates: v1's schema does NOT contain the column, v2's unified
    * read fills exactly the untouched buckets with NULL, and COW
    * sharing still holds across the schema boundary. */
  private val s28 = Q(
    "s28_schema_evolution",
    Some(s"""WITH v2 AS (SELECT c_custkey,
              CASE WHEN c_custkey % 8 < 2 THEN
                (CASE WHEN c_acctbal >= 5000.0 THEN 'gold' ELSE 'std' END)
              END AS c_tier FROM customer)
          SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
            CAST(0 AS BIGINT) AS n_with_tier, TRUE AS evolution_ok
          FROM customer
          UNION ALL
          SELECT CAST(2 AS BIGINT), count(*),
            CAST(count(c_tier) AS BIGINT), TRUE
          FROM v2 ORDER BY version"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val tdir = freshScratch(dir, "snap_customer_evolve")
      val base = t(s, dir, "customer").select(col("c_custkey"), col("c_acctbal"))
      val bucket = pmod(col("c_custkey"), lit(8))
      val m1 = Snapshots.commit(base, tdir, version = 1, bucket, nBuckets = 8)
      val v2Content = base.where(pmod(col("c_custkey"), lit(8)) < 2)
        .withColumn("c_tier",
          when(col("c_acctbal") >= 5000.0, "gold").otherwise("std"))
      val m2 = Snapshots.commit(v2Content, tdir, version = 2, bucket,
        nBuckets = 8, parent = Some(m1), touched = Some(Set(0, 1)))
      val v1 = Snapshots.read(s, m1)
      val v2 = Snapshots.readMerged(s, m2)
      val ok = !v1.columns.contains("c_tier") &&
        v2.columns.contains("c_tier") &&
        Snapshots.cowShared(m1, m2, Set(0, 1))
      val r1 = v1.agg(count(lit(1)).as("n_rows"))
        .select(lit(1L).as("version"), col("n_rows"),
          lit(0L).as("n_with_tier"), lit(ok).as("evolution_ok"))
      val r2 = v2.agg(count(lit(1)).as("n_rows"),
          count(col("c_tier")).as("n_with_tier"))
        .select(lit(2L).as("version"), col("n_rows"), col("n_with_tier"),
          lit(ok).as("evolution_ok"))
      r1.unionByName(r2).orderBy("version")
    })

  /** X-S23: incremental aggregate maintenance over the snapshot
    * history — the materialized-view pattern for slowly-changing
    * 100 TB tables: keep PER-BUCKET partial aggregates (count +
    * exact-decimal sum, both mergeable), and on a commit re-aggregate
    * ONLY the buckets the commit touched, inheriting every other
    * partial from the previous version. The v2 answer never rescans
    * the 6 untouched buckets (`incremental_ok` asserts the touched
    * file set is a strict subset of the version's files); the oracle
    * recomputes both versions' aggregates from scratch, so any drift
    * between the merged partials and the truth fails the hash gate.
    * Partials stay DECIMAL until the final merge — decimal addition
    * is exact and associative, so the two-level (bucket → table)
    * aggregation is bit-deterministic at any parallelism. */
  private val s23 = Q(
    "s23_incremental_agg",
    Some(s"""WITH v1 AS (SELECT c_acctbal FROM customer),
          v2 AS (SELECT CASE WHEN c_custkey % 8 < 2 THEN c_acctbal + 100.0
              ELSE c_acctbal END AS c_acctbal FROM customer)
          SELECT CAST(1 AS BIGINT) AS version, count(*) AS n_rows,
            ${Det.sqlDsum("c_acctbal", 6)} AS bal_sum, TRUE AS incremental_ok
          FROM v1
          UNION ALL
          SELECT CAST(2 AS BIGINT), count(*),
            ${Det.sqlDsum("c_acctbal", 6)}, TRUE
          FROM v2 ORDER BY version"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val (m1, m2) = snapCustomer(s, dir)
      val bucket = pmod(col("c_custkey"), lit(8)).as("bucket")
      def partials(df: DataFrame): DataFrame =
        df.groupBy(bucket)
          .agg(count(lit(1)).as("n"),
            sum(col("c_acctbal").cast(DecimalType(30, 6))).as("s"))
      val p1 = partials(Snapshots.read(s, m1))
      // v2: re-aggregate ONLY the touched buckets' files, merge with
      // v1's untouched partials
      val touchedFiles = m2.files.view
        .filterKeys(snapTouched).values.flatten.toSeq
      val incrementalOk =
        touchedFiles.nonEmpty && touchedFiles.size < m2.allFiles.size
      val p2 = p1.where(!col("bucket").isInCollection(snapTouched))
        .unionByName(partials(Tables.readParquet(s, touchedFiles: _*)))
      def fin(p: DataFrame, v: Int): DataFrame =
        p.agg(sum(col("n")).as("n_rows"),
            sum(col("s")).cast(DoubleType).as("bal_sum"))
          .select(lit(v.toLong).as("version"), col("n_rows"), col("bal_sum"),
            lit(incrementalOk).as("incremental_ok"))
      fin(p1, 1).unionByName(fin(p2, 2)).orderBy("version")
    })

  /** X-S22: zone-map data skipping — per-FILE min/max statistics
    * drive file-level pruning before the scan, the mechanism behind
    * Iceberg/Delta manifests and parquet row-group skipping. The
    * table is written range-partitioned + sorted on l_shipdate (16
    * files, tight non-overlapping ranges); the stats frame is one row
    * per file (computed here with a column-pruned distributed
    * aggregate — a real deployment reads the same min/max straight
    * from parquet footers) and is metadata-sized by construction, so
    * planning over it driver-side is the same bounded step as any
    * file listing. A half-year predicate then scans ONLY the files
    * whose [min,max] intersects it; `pruned_ok` asserts files_read <
    * files_total (the skipping actually happened) and the hash gate
    * pins the result to the plain full-table filter. At 100 TB the
    * layout step is the one-off sort investment; every range query
    * after it touches the 1–2% of files its predicate admits. */
  private val s22 = Q(
    "s22_stats_skipping",
    Some(s"""SELECT count(*) AS n_rows, ${Det.sqlDsum("l_quantity", 6)} AS qty_sum,
            TRUE AS pruned_ok
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '1996-01-01'
            AND l_shipdate < TIMESTAMP '1996-07-01'"""),
    (s, dir) => {
      val out = scratch(dir, "lineitem_zonemap")
      if (!Files.exists(Paths.get(s"$out/_DONE"))) {
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_shipdate"), col("l_quantity"))
          .repartitionByRange(16, col("l_shipdate"))
          .sortWithinPartitions("l_shipdate")
          .write.mode("overwrite").parquet(s"$out/data")
        Files.write(Paths.get(s"$out/_DONE"), Array.emptyByteArray)
      }
      val data = Tables.readParquet(s, s"$out/data")
      // bound literals cast to the column's own temporal type (the
      // testdata parquet reads as TIMESTAMP_NTZ under Spark 4)
      val dt = data.schema("l_shipdate").dataType
      val loC = lit("1996-01-01 00:00:00").cast(dt)
      val hiC = lit("1996-07-01 00:00:00").cast(dt)
      val stats = data.select(col("l_shipdate"))
        .groupBy(input_file_name().as("file"))
        .agg(min(col("l_shipdate")).as("f_lo"), max(col("l_shipdate")).as("f_hi"))
        .select(col("file"), // [f_lo, f_hi] ∩ [lo, hi) ≠ ∅
          (col("f_hi") >= loC && col("f_lo") < hiC).as("keep"))
        .collect() // one row per data file — metadata-sized (the manifest read)
      val keep = stats.filter(_.getBoolean(1)).map(_.getString(0))
      val prunedOk = keep.nonEmpty && keep.length < stats.length
      Tables.readParquet(s, keep.toIndexedSeq: _*)
        .where(col("l_shipdate") >= loC && col("l_shipdate") < hiC)
        .agg(count(lit(1)).as("n_rows"), Det.dsum(col("l_quantity"), 6).as("qty_sum"))
        .withColumn("pruned_ok", lit(prunedOk))
    })

  /** X-S24: equality-delete files on the snapshot protocol — the
    * Iceberg v2 / Delta deletion-vector answer to row-level DELETE on
    * an immutable lake: a delete commit writes ONLY a metadata-sized
    * key list and inherits every data file unchanged; readers apply
    * the accumulated delete keys as a broadcast anti-join at scan
    * time; nothing is rewritten until a compaction folds them in.
    * Two stacked delete commits (keys %10=3, then %10=7) prove the
    * lists accumulate; `no_rewrite_ok` asserts v2/v3 share ALL of
    * v1's data files byte-for-byte (manifest path identity), so if a
    * delete ever triggers a rewrite the hash gate fails. The oracle
    * recomputes each version from the base table with the delete
    * predicates applied — any row the anti-join fails to remove (or
    * wrongly removes) flips a count or a decimal sum. */
  private val s24 = Q(
    "s24_equality_deletes",
    Some(s"""WITH v AS (
            SELECT 1 AS version, o_orderkey, o_totalprice FROM orders
            UNION ALL
            SELECT 2, o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey % 10 != 3
            UNION ALL
            SELECT 3, o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey % 10 != 3 AND o_orderkey % 10 != 7)
          SELECT CAST(version AS BIGINT) AS version, count(*) AS n_rows,
            ${Det.sqlDsum("o_totalprice", 2)} AS price_sum,
            TRUE AS no_rewrite_ok
          FROM v GROUP BY version ORDER BY version"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val tdir = freshScratch(dir, "snap_orders_deletes")
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val m1 = Snapshots.commit(base, tdir, version = 1,
        pmod(col("o_orderkey"), lit(8)), nBuckets = 8)
      val m2 = Snapshots.deleteCommit(
        base.where(col("o_orderkey") % 10 === 3), tdir, version = 2,
        keyCol = "o_orderkey", parent = m1)
      val m3 = Snapshots.deleteCommit(
        base.where(col("o_orderkey") % 10 === 7), tdir, version = 3,
        keyCol = "o_orderkey", parent = m2)
      val noRewrite = m2.files == m1.files && m3.files == m1.files &&
        m2.deletes.size == 1 && m3.deletes.size == 2
      def summarize(m: Snapshots.Manifest): DataFrame =
        Snapshots.read(s, m)
          .agg(count(lit(1)).as("n_rows"),
            Det.dsum(col("o_totalprice"), 2).as("price_sum"))
          .select(lit(m.version.toLong).as("version"), col("n_rows"),
            col("price_sum"), lit(noRewrite).as("no_rewrite_ok"))
      summarize(m1).unionByName(summarize(m2)).unionByName(summarize(m3))
        .orderBy("version")
    })

  /** X-S25: delete-file compaction — the maintenance commit that
    * folds accumulated equality deletes INTO rewritten data files and
    * resets the delete list, ending the per-read anti-join tax (the
    * REWRITE DATA / VACUUM step every delete-vector lake schedules).
    * The query reads the pre-compaction version and the compacted
    * version through their manifests and emits both summaries: the
    * hash gate pins them EQUAL to each other (compaction must not
    * change content) and to the oracle's recomputation from the base
    * table; `compacted_ok` asserts the physical change actually
    * happened (fresh data files, zero remaining delete files). */
  private val s25 = Q(
    "s25_delete_compaction",
    Some(s"""WITH v AS (
            SELECT 3 AS version, o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey % 10 != 3 AND o_orderkey % 10 != 7
            UNION ALL
            SELECT 4, o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey % 10 != 3 AND o_orderkey % 10 != 7)
          SELECT CAST(version AS BIGINT) AS version, count(*) AS n_rows,
            ${Det.sqlDsum("o_totalprice", 2)} AS price_sum,
            TRUE AS compacted_ok
          FROM v GROUP BY version ORDER BY version"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val tdir = freshScratch(dir, "snap_orders_compact")
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bucket = pmod(col("o_orderkey"), lit(8))
      val m1 = Snapshots.commit(base, tdir, version = 1, bucket, nBuckets = 8)
      val m2 = Snapshots.deleteCommit(
        base.where(col("o_orderkey") % 10 === 3), tdir, 2, "o_orderkey", m1)
      val m3 = Snapshots.deleteCommit(
        base.where(col("o_orderkey") % 10 === 7), tdir, 3, "o_orderkey", m2)
      val m4 = Snapshots.compact(s, tdir, version = 4, bucket, nBuckets = 8, m3)
      val compactedOk = m4.deletes.isEmpty &&
        m4.files.values.flatten.toSet.intersect(m3.files.values.flatten.toSet).isEmpty
      def summarize(m: Snapshots.Manifest): DataFrame =
        Snapshots.read(s, m)
          .agg(count(lit(1)).as("n_rows"),
            Det.dsum(col("o_totalprice"), 2).as("price_sum"))
          .select(lit(m.version.toLong).as("version"), col("n_rows"),
            col("price_sum"), lit(compactedOk).as("compacted_ok"))
      summarize(m3).unionByName(summarize(m4)).orderBy("version")
    })

  /** X-S26: change data feed between two snapshot versions — the
    * incremental-consumption pattern (Delta CDF / Iceberg incremental
    * read): a downstream job asks "what changed between v1 and v2?"
    * and the answer is computed by scanning ONLY the buckets whose
    * file lists differ between the two manifests (a metadata-sized
    * diff), never the whole table. Inside the changed buckets a
    * key-keyed full-outer join classifies each row insert / update /
    * delete; unchanged rows drop out. `incremental_ok` asserts the
    * file-list diff named exactly the touched buckets (the scan
    * subset is real); the oracle derives the change set from the base
    * table with the same mutation expressions. */
  private val s26 = Q(
    "s26_change_data_feed",
    Some("""WITH scope AS (SELECT o_orderkey, o_totalprice FROM orders
              WHERE o_orderkey % 8 < 2),
          v2 AS (SELECT o_orderkey,
              CASE WHEN o_orderkey % 3 = 0 THEN o_totalprice + 100.0
                ELSE o_totalprice END AS o_totalprice
            FROM scope WHERE o_orderkey % 5 != 1
            UNION ALL
            SELECT o_orderkey + 100000000, o_totalprice FROM scope
              WHERE o_orderkey % 7 = 2),
          ch AS (SELECT
              coalesce(a.o_orderkey, b.o_orderkey) AS o_orderkey,
              a.o_totalprice AS old_price, b.o_totalprice AS new_price,
              CASE WHEN a.o_orderkey IS NULL THEN 'insert'
                   WHEN b.o_orderkey IS NULL THEN 'delete'
                   ELSE 'update' END AS change_type
            FROM scope a FULL JOIN v2 b ON a.o_orderkey = b.o_orderkey)
          SELECT o_orderkey, change_type, old_price, new_price,
            TRUE AS incremental_ok
          FROM ch
          WHERE old_price IS NULL OR new_price IS NULL
             OR old_price != new_price
          ORDER BY o_orderkey, change_type"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val tdir = freshScratch(dir, "snap_orders_cdf")
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bucket = pmod(col("o_orderkey"), lit(8))
      val m1 = Snapshots.commit(base, tdir, version = 1, bucket, nBuckets = 8)
      val scope = base.where(pmod(col("o_orderkey"), lit(8)) < 2)
      // v2 rewrites buckets 0-1: +100 where key%3=0, key%5=1 deleted,
      // key%7=2 re-inserted under key+1e8 (1e8 % 8 = 0 keeps buckets)
      val v2Content = scope.where(col("o_orderkey") % 5 =!= 1)
        .withColumn("o_totalprice",
          when(col("o_orderkey") % 3 === 0, col("o_totalprice") + lit(100.0))
            .otherwise(col("o_totalprice")))
        .unionByName(scope.where(col("o_orderkey") % 7 === 2)
          .withColumn("o_orderkey", col("o_orderkey") + 100000000L))
      val m2 = Snapshots.commit(v2Content, tdir, version = 2, bucket,
        nBuckets = 8, parent = Some(m1), touched = Some(Set(0, 1)))
      // the CDF plan step: which buckets changed = manifest file-list
      // diff (metadata-sized, never touches data)
      val changed = (m1.files.keySet ++ m2.files.keySet)
        .filter(b => m1.files.get(b) != m2.files.get(b))
      val incrementalOk = changed == Set(0, 1)
      def side(m: Snapshots.Manifest, as: String): DataFrame =
        Tables.readParquet(s, changed.toSeq.sorted.flatMap(m.files(_)): _*)
          .select(col("o_orderkey"), col("o_totalprice").as(as))
      side(m1, "old_price")
        .join(side(m2, "new_price"), Seq("o_orderkey"), "full_outer")
        .withColumn("change_type",
          when(col("old_price").isNull, "insert")
            .when(col("new_price").isNull, "delete")
            .otherwise("update"))
        .where(col("old_price").isNull || col("new_price").isNull ||
          col("old_price") =!= col("new_price"))
        .withColumn("incremental_ok", lit(incrementalOk))
        .select("o_orderkey", "change_type", "old_price", "new_price",
          "incremental_ok")
        .orderBy("o_orderkey", "change_type")
    })

  /** X-EP6: lakehouse-lifecycle flagship — the full maintenance story
    * the s21–s26 operators cover individually, composed and gated
    * END-TO-END: initial load → copy-on-write update (buckets 0–1,
    * +50) → equality delete (keys %9=5) → compaction, with the change
    * feed computed at every transition. One row per stage carries
    * (n_rows, exact price sum, n_changes INTO the stage, invariant
    * ok): the hash gate pins stage-2 n_changes to the changed-bucket
    * CDF row count, stage-3 to the rows the delete removed, and
    * stage-4 to the v3→v4 change feed — which MUST be empty
    * (compaction is a physical rewrite and a logical no-op; a single
    * resurrected or lost row flips n_changes). ok booleans assert the
    * physical invariants (COW sharing, no-rewrite deletes, zero
    * remaining delete files). Price sums use decimal scale 2:
    * o_totalprice is 2-decimal so the sum is exact, and the unscaled
    * value stays far inside the 2^53 cross-engine conversion bound
    * where scale 6 would exceed it at sf0.1 (Det.scala bound #2). */
  private val ep6 = Q(
    "ep6_lakehouse_lifecycle",
    Some(s"""WITH v2 AS (SELECT o_orderkey,
            CASE WHEN o_orderkey % 8 < 2 THEN o_totalprice + 50.0
              ELSE o_totalprice END AS p FROM orders),
          v3 AS (SELECT * FROM v2 WHERE o_orderkey % 9 != 5)
          SELECT CAST(1 AS BIGINT) AS stage, count(*) AS n_rows,
            ${Det.sqlDsum("o_totalprice", 2)} AS price_sum,
            CAST(0 AS BIGINT) AS n_changes, TRUE AS ok FROM orders
          UNION ALL
          SELECT 2, count(*), ${Det.sqlDsum("p", 2)},
            (SELECT count(*) FROM orders WHERE o_orderkey % 8 < 2), TRUE
          FROM v2
          UNION ALL
          SELECT 3, count(*), ${Det.sqlDsum("p", 2)},
            (SELECT count(*) FROM orders WHERE o_orderkey % 9 = 5), TRUE
          FROM v3
          UNION ALL
          SELECT 4, count(*), ${Det.sqlDsum("p", 2)},
            CAST(0 AS BIGINT), TRUE
          FROM v3
          ORDER BY stage"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val tdir = freshScratch(dir, "snap_lifecycle")
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bucket = pmod(col("o_orderkey"), lit(8))
      val m1 = Snapshots.commit(base, tdir, version = 1, bucket, nBuckets = 8)
      val v2Content = base.where(pmod(col("o_orderkey"), lit(8)) < 2)
        .withColumn("o_totalprice", col("o_totalprice") + lit(50.0))
      val m2 = Snapshots.commit(v2Content, tdir, version = 2, bucket,
        nBuckets = 8, parent = Some(m1), touched = Some(Set(0, 1)))
      val m3 = Snapshots.deleteCommit(
        base.where(col("o_orderkey") % 9 === 5), tdir, 3, "o_orderkey", m2)
      val m4 = Snapshots.compact(s, tdir, version = 4, bucket, nBuckets = 8, m3)
      // change feed INTO each stage; diffFull counts rows that appear,
      // disappear, or change value between two delete-aware reads
      def diffFull(a: DataFrame, b: DataFrame): Long =
        a.select(col("o_orderkey"), col("o_totalprice").as("_old"))
          .join(b.select(col("o_orderkey"), col("o_totalprice").as("_new")),
            Seq("o_orderkey"), "full_outer")
          .where(col("_old").isNull || col("_new").isNull ||
            col("_old") =!= col("_new"))
          .count()
      // stage 2: s26's changed-bucket path (metadata diff names 0-1)
      val changed = (m1.files.keySet ++ m2.files.keySet)
        .filter(b => m1.files.get(b) != m2.files.get(b)).toSeq.sorted
      def bucketRead(m: Snapshots.Manifest): DataFrame =
        Tables.readParquet(s, changed.flatMap(m.files(_)): _*)
      val cdf12 = diffFull(bucketRead(m1), bucketRead(m2))
      val r2 = Snapshots.read(s, m2); val r3 = Snapshots.read(s, m3)
      val cdf23 = r2.count() - r3.count() // delete-only transition
      val cdf34 = diffFull(r3, Snapshots.read(s, m4)) // MUST be 0
      val ok2 = Snapshots.cowShared(m1, m2, Set(0, 1))
      val ok3 = m3.files == m2.files && m3.deletes.size == 1
      val ok4 = m4.deletes.isEmpty
      def summarize(m: Snapshots.Manifest, stage: Int, nChanges: Long,
                    ok: Boolean): DataFrame =
        Snapshots.read(s, m)
          .agg(count(lit(1)).as("n_rows"),
            Det.dsum(col("o_totalprice"), 2).as("price_sum"))
          .select(lit(stage.toLong).as("stage"), col("n_rows"),
            col("price_sum"), lit(nChanges).as("n_changes"),
            lit(ok).as("ok"))
      summarize(m1, 1, 0L, ok = true)
        .unionByName(summarize(m2, 2, cdf12, ok2))
        .unionByName(summarize(m3, 3, cdf23, ok3))
        .unionByName(summarize(m4, 4, cdf34, ok4))
        .orderBy("stage")
    })

  /** X-S27: snapshot expiry (VACUUM) — the third maintenance action
    * after compaction and CDF: files referenced only by versions
    * older than the retention point are PHYSICALLY deleted (manifest
    * set algebra names them; superseded bucket files + folded delete
    * files). The gate is end-to-end: after the unlink loop the
    * retained version's content is hash-checked against the oracle's
    * recomputation (expiry must not touch anything live — a shared
    * file wrongly expired breaks the sum), and `vacuum_ok` asserts
    * that files were actually removed AND that reading an expired
    * version now fails. */
  private val s27 = Q(
    "s27_snapshot_expiry",
    Some(s"""SELECT count(*) AS n_rows,
            ${Det.sqlDsum("o_totalprice", 2)} AS price_sum,
            TRUE AS vacuum_ok
          FROM orders WHERE o_orderkey % 7 != 3"""),
    (s, dir) => {
      import graft.sources.Snapshots
      val tdir = freshScratch(dir, "snap_expiry")
      val base = t(s, dir, "orders").select(col("o_orderkey"), col("o_totalprice"))
      val bucket = pmod(col("o_orderkey"), lit(8))
      val m1 = Snapshots.commit(base, tdir, version = 1, bucket, nBuckets = 8)
      val m2 = Snapshots.deleteCommit(
        base.where(col("o_orderkey") % 7 === 3), tdir, 2, "o_orderkey", m1)
      val m3 = Snapshots.compact(s, tdir, version = 3, bucket, nBuckets = 8, m2)
      val (nLive, nExpired) = Snapshots.expire(tdir, keepFrom = 3, upTo = 3)
      // v1/v2 are gone for good; v3 must read exactly as before
      val oldGone =
        try { Snapshots.read(s, m1).count(); false }
        catch { case _: Exception => true }
      val vacuumOk = nExpired > 0 && nLive > 0 && oldGone
      Snapshots.readVersion(s, tdir, 3)
        .agg(count(lit(1)).as("n_rows"),
          Det.dsum(col("o_totalprice"), 2).as("price_sum"))
        .withColumn("vacuum_ok", lit(vacuumOk))
    })

  val all: Seq[Q] = Seq(s1, ep1, s2f, s2v, s3f, ep1f, s5, s20, s6json, s6orc, s7, s12, s13, s14, s15, s16, s17, s18, s21, s22, s23, s24, s25, s26, s27, s28, ep6, st1, st2, st3, st4, mm1, mm2, mm3, mm4, mm5, mm6, mm7, mm8, mm9, mm10, mm11)
}
