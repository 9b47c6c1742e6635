package graft.operators

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** M1: DBSCAN (objtable.py:116-168 cluster_sources).
  *
  * The reference clusters source detections with sklearn DBSCAN
  * (ball_tree + haversine, eps = radians(arcsec/3600)), a single-node
  * algorithm. A point set of broadcastable size is
  * clustered the same way here: fetched in one bounded job and
  * clustered on the driver (`onDriver`). Larger sets take the
  * distributed path, the same semantics built from Spark primitives:
  *
  *   1. bucket points into grid cells of size eps; neighbor pairs can
  *      only span adjacent cells -> cell equi-join + exact distance
  *      predicate (no false negatives);
  *   2. core points = ≥ minSamples neighbors within eps (the point
  *      itself counts — sklearn semantics);
  *   3. clusters = connected components of the core-core ε-graph via
  *      iterative smallest-label propagation (converges in O(graph
  *      diameter) rounds; lineage cut with localCheckpoint each
  *      round);
  *   4. border points (non-core within eps of a core) join the
  *      minimum label among their core neighbors. sklearn assigns the
  *      first-scanned core's cluster — order-dependent; min-label is
  *      the deterministic choice and agrees whenever clusters are
  *      ε-separated (the astronomy case). Noise is dropped, like the
  *      reference's `purge_df` + groupby-excluding -1.
  *
  * Cluster labels are the minimum member point id — content-derived
  * and stable across runs/partitionings (SURVEY §7 "non-deterministic
  * ids" risk).
  *
  * Scale: the cell id is a high-cardinality shuffle key; each round
  * is one shuffle of (id, label). For 100 TB skies, eps (arcsec) ≪
  * cell occupancy keeps candidate lists tiny; pathological dense
  * blobs bound the pair join by cell, not globally.
  */
object Clustering {

  /** Edge-count threshold under which the component labels are
    * computed with a driver-side union-find instead of distributed
    * label-propagation rounds. Same adaptive rationale as a
    * broadcast-hash-join: below the threshold the whole edge list is
    * dimension-sized (≤ ~64 MB collected), and one O(E α(E)) pass
    * beats 3-5 rounds of join+checkpoint fixed latency; above it the
    * shuffle-based rounds are the only shape that scales. Both paths
    * produce identical labels (min member id per component). */
  val DriverMaxEdges = 4000000L

  /** Connected components by iterative smallest-label propagation
    * with pointer jumping (labels converge in O(log diameter)
    * rounds; lineage cut each round; decreasing-checksum fixpoint
    * test). `nodes`: one column `_id`; `edges`: directed pairs
    * (`_a`, `_b`) — pass both directions for an undirected graph.
    * Returns (_id, _label) with _label = min node id of the
    * component. Shared by DBSCAN (core-graph clusters) and
    * near-dedup (duplicate groups).
    */
  def connectedComponents(nodes: DataFrame, edges: DataFrame,
                          driverMaxEdges: Long = DriverMaxEdges): DataFrame = {
    val idType = nodes.schema.fields.find(_.name == "_id").get.dataType

    // Canonicalize FIRST — orientation _a > _b, self-loops stripped —
    // and checkpoint once; the adaptive probe and both execution
    // paths read this single materialization, so the (possibly
    // expensive) upstream edge computation runs exactly once.
    // NO distinct here (r10): the union-find is duplicate-tolerant,
    // so on the driver path a dedup exchange before the checkpoint is
    // pure cost — and it sat in EVERY CC call (ep2/m1 dbscan, every
    // dd group query, ep4). Orientation dups (exactly 2× from
    // undirected emitters) and band-multiplicity dups only fatten the
    // bounded collect; the distributed path dedups below, where round
    // volume actually depends on it. Self-loop stripping also closes
    // the ADVICE r05 parity gap: a node whose only edges are
    // self-loops has no canonical edge, is not active, and labels
    // itself through the isolated/own-component path — identical on
    // both paths (the union-find never unions a self-loop either).
    val frames = new graft.core.LoopFrames
    // CP-OK: CC's canonicalized edge input, read by the count, the
    // collect or distinct below — already collision-bounded
    val e0 = frames.cut(edges
      .select(greatest(col("_a"), col("_b")).as("_a"),
        least(col("_a"), col("_b")).as("_b"))
      .where(col("_a") =!= col("_b")))
    // Exact count on the materialized checkpoint — O(partitions), no
    // data movement — replacing the r05 limit(4M+1).collect() probe
    // that pulled up to 4M Rows (~hundreds of MB) onto the driver
    // just to TEST the threshold (VERDICT r05 #4). Only genuinely
    // under-threshold edge lists are ever collected now. The count is
    // WITH multiplicity: it bounds exactly what the driver path would
    // pull (the raw checkpointed rows), so the 64 MB fetch-volume
    // contract is unchanged; a heavily-duplicated edge set merely
    // chooses the distributed path a little earlier — the safe side.
    val nEdges = e0.count()

    if (integral(idType) && nEdges <= driverMaxEdges) {
      // Below the threshold the whole (two-long-column) edge list is
      // dimension-sized; one O(E α(E)) driver pass beats 3-5 rounds
      // of join+checkpoint fixed latency — same adaptive rationale as
      // a broadcast hash join.
      val fetched = e0
        // BOUNDED: gated by the nEdges <= driverMaxEdges count above
        .select(col("_a").cast(LongType), col("_b").cast(LongType)).collect()
      frames.close() // result below depends only on nodes + broadcast labels
      val labeled = driverUnionFind(fetched.flatMap(r => Array(r.getLong(0), r.getLong(1))))
      val spark = nodes.sparkSession
      import spark.implicits._
      val labels = labeled.toSeq.toDF("_id", "_label")
        .select(col("_id").cast(idType).as("_id"),
          col("_label").cast(idType).as("_label"))
      // parity with the distributed path: endpoints that are in
      // `nodes` get their component label; nodes without an edge are
      // their own component. ONE left broadcast join + coalesce — not
      // a semi/anti pair — so `nodes` is scanned once and the tiny
      // label table broadcasts once (two fewer stages per CC call;
      // the fixed job latency is the whole cost at ep2's scale).
      return nodes.join(broadcast(labels), Seq("_id"), "left")
        .select(col("_id"), coalesce(col("_label"), col("_id")).as("_label"))
    }

    // Distributed path: alternating large-star/small-star rounds
    // (Kiveris et al., "Connected Components in MapReduce and
    // Beyond", SoCC'14). Each round's messages are grouped per node —
    // a hub of degree d sends d messages to ITS minimum neighbor,
    // never d² pair messages, so message sizes stay balanced on the
    // skewed degree distributions near-dup graphs produce — and the
    // edge set contracts toward (node → component-min) stars in
    // O(log n) alternations regardless of component diameter (the
    // pointer-jumping predecessor was O(log diameter) on labels but
    // funneled every propagation through the running-min holder).
    //
    // Invariant: `e` holds the canonical orientation _a > _b; both
    // steps preserve it because every emitted edge is (v, m) with m a
    // neighborhood minimum strictly below v.
    //
    // Only nodes with at least one (non-self) edge participate in the
    // rounds — an isolated node IS its own converged component
    // (label = id). In sparse regimes (near-dedup graphs,
    // sub-percolation ε-graphs) that excludes the vast majority of
    // nodes from every round's shuffle; the isolated remainder is
    // appended lazily at the end.
    // dedup here — the first exchange the distributed path was going
    // to pay anyway — so round volume is set-sized even when the
    // emitter carried orientation/band multiplicity (the driver path
    // above never needed it)
    // CP-OK: the deduped edge set the rounds start from; frees e0 —
    // rounds only ever read the deduped set
    val e1 = frames.cut(e0.distinct())
    val ends = e1.select(col("_a").as("_id"))
      .unionAll(e1.select(col("_b").as("_id"))).distinct()
    // CP-OK: node-sized active set read by every label emit below;
    // never freed by the loop (the harness reclaims it after a run)
    val active = nodes.join(ends, Seq("_id"), "left_semi").localCheckpoint()
    val isolated = nodes.join(active, Seq("_id"), "left_anti")
      .select(col("_id"), col("_id").as("_label"))
    // fixpoint check: the small-star output is a SET of edges;
    // (count, order-independent hash sum) in one aggregate job per
    // round identifies it. Seeding `last` with the INPUT's checksum
    // (one cheap aggregate over the already-materialized deduped set)
    // lets a star-shaped input — common for near-dup groups — exit
    // after a single verification round instead of burning two more
    // join+checkpoint rounds to see the same set twice (VERDICT r8
    // ep2 schedule ask).
    def checksum(df: DataFrame): (Long, Any) = {
      val r = df.agg(count(lit(1)),
        // BOUNDED: single-row checksum aggregate
        sum(xxhash64(col("_a"), col("_b")).cast(DecimalType(38, 0)))).collect()(0)
      (r.getLong(0), r.get(1))
    }
    var e = e1
    var last: (Long, Any) = checksum(e1)
    var converged = false
    var rounds = 0
    while (!converged && rounds < 50) {
      // large-star: center every node u, m(u) = min(Γ(u) ∪ {u});
      // each strictly-larger neighbor v re-points to m(u). With the
      // canonical orientation this is one aggregate over both
      // directions plus one equi-join on the small end. No distinct()
      // here (VERDICT r05 #4): the canonical emit rarely duplicates,
      // the small-star groupBy/distinct absorb what it does, and the
      // dropped shuffle is one per round.
      val dir = e.select(col("_a").as("_u"), col("_b").as("_v"))
        .unionAll(e.select(col("_b").as("_u"), col("_a").as("_v")))
      val mins = dir.groupBy("_u").agg(least(min(col("_v")), col("_u")).as("_m"))
      val ls = e.join(mins, e("_b") === mins("_u"))
        .select(col("_a"), col("_m").as("_b"))
        .where(col("_a") =!= col("_b"))
      // small-star: center the large end x over its smaller
      // neighborhood Γ⁻(x); everything in Γ⁻(x) ∪ {x} re-points to
      // its minimum.
      val mins2 = ls.groupBy(col("_a").as("_u")).agg(min(col("_b")).as("_m"))
      // CP-OK: CC's loop-carried edge state — lineage grows per round
      // and must be CUT (persist cannot bound plan depth)
      e = frames.cut(ls.join(mins2, ls("_a") === mins2("_u"))
        .where(col("_b") =!= col("_m"))
        .select(col("_b").as("_a"), col("_m").as("_b"))
        .unionAll(mins2.select(col("_u").as("_a"), col("_m").as("_b")))
        .distinct())
      rounds += 1
      // round was a no-op (output set == input set) -> fixpoint: both
      // star steps are deterministic functions of the edge set
      val cs = checksum(e)
      converged = cs == last
      last = cs
    }
    // converged: e is exactly {(v, component-min) : v not a min};
    // the roots label themselves.
    // parity with the union-find path: only endpoints in `nodes` get
    // a label row (edges mentioning ids outside `nodes` still steer
    // the labels, but don't emit rows)
    val labels = e.select(col("_a").as("_id"), col("_b").as("_label"))
      .unionByName(e.select(col("_b").as("_id"), col("_b").as("_label")).distinct())
      .join(active, Seq("_id"), "left_semi")
    labels.unionByName(isolated)
  }

  /** Union-find (path halving + union by min) over an edge list laid
    * out as endpoint pairs (`ends(2k)`, `ends(2k+1)`); returns label =
    * min node id of its component for every endpoint. Only invoked for
    * dimension-sized edge lists — see [[DriverMaxEdges]]. */
  private def driverUnionFind(ends: Array[Long]): mutable.LongMap[Long] = {
    val parent = new mutable.LongMap[Long]()
    def find(x0: Long): Long = {
      var x = x0
      var p = parent.getOrElse(x, x)
      while (p != x) { // path halving
        val gp = parent.getOrElse(p, p)
        parent(x) = gp
        x = gp
        p = parent.getOrElse(x, x)
      }
      x
    }
    var i = 0
    while (i < ends.length) {
      val ra = find(ends(i)); val rb = find(ends(i + 1))
      if (ra != rb) { // union under the smaller root: root == min id
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
      i += 2
    }
    val out = new mutable.LongMap[Long](parent.size)
    for (id <- ends) if (!out.contains(id)) out(id) = find(id)
    out
  }

  /** Returns (idCol, cluster) for every non-noise point, `cluster`
    * typed as `idCol`. A dimension-sized point set is clustered on the
    * driver ([[onDriver]]); anything larger takes the distributed
    * ε-graph ([[distributed]]). Both return the same rows. */
  def dbscan(points: DataFrame, idCol: String, xCol: String, yCol: String,
             eps: Double, minSamples: Int): DataFrame = {
    val pts = points.select(col(idCol).as("_id"), col(xCol).as("_x"), col(yCol).as("_y"))
    onDriver(pts, eps, minSamples).getOrElse(distributed(pts, eps, minSamples))
      .select(col("_id").as(idCol), col("_label").as("cluster"))
  }

  private def integral(t: DataType): Boolean =
    t == LongType || t == IntegerType || t == ShortType || t == ByteType

  /** DBSCAN of (`_id`, `_x`, `_y`) on the driver: (`_id`, `_label`) as a
    * local frame, or None when the point set is not dimension-sized.
    *
    * Same adaptive rationale as [[DriverMaxEdges]] one level up: a
    * point set within `spark.sql.autoBroadcastJoinThreshold` (Spark's
    * own bound for a broadcastable side; -1 turns this path off as it
    * turns off broadcast joins) is fetched in ONE bounded job and
    * clustered in memory, instead of the ~20 jobs of the distributed
    * ε-graph. The size is the optimizer's estimate, except for a
    * projection of one materialized checkpoint (ep2's centroids): the
    * estimate such a frame inherits from its plan can overstate it by
    * orders of magnitude (24 GiB for ep2's 2,000 centroids: without CBO
    * an inner join's estimate is the product of its sides), while its
    * rows are stored, so the fetch reads at most the bound and stops.
    * Every fetch is bounded by the threshold in rows of Spark's own row
    * size, and a fetch past that bound goes to the distributed path.
    * It computes exactly what [[distributed]] returns:
    *   - cells `floor(v / eps)` of the coordinate as a double; pairs
    *     from the 3×3 neighbouring cells with `id_a != id_b` and
    *     `(xa-xb)²+(ya-yb)² <= eps²` in the coordinates' own
    *     arithmetic (long, overflow-checked when ANSI mode is on and
    *     wrapping when it is off, as Catalyst's, or double; a long sum
    *     is widened to double for the comparison);
    *   - core = degree ≥ minSamples - 1, clusters = components of the
    *     core-core pairs ([[driverUnionFind]]), borders = min label of
    *     their core neighbours, noise dropped;
    *   - a NULL id or coordinate never pairs; with minSamples ≤ 1 every
    *     row is a node, so such a row labels itself (NULL id -> NULL).
    * Integral ids and long or double coordinates only (the arithmetic
    * reproduced here); the distributed path takes every other input and
    * a grid past [[DriverMaxEdges]] candidate pairs (a dense blob). */
  private def onDriver(pts: DataFrame, eps: Double, minSamples: Int): Option[DataFrame] = {
    val Array(idType, xType, yType) = pts.schema.fields.map(_.dataType)
    val coord = (t: DataType) => t == LongType || t == DoubleType
    val spark = pts.sparkSession
    val conf = spark.sessionState.conf
    val threshold = conf.autoBroadcastJoinThreshold
    val plan = pts.queryExecution.optimizedPlan
    val stored = plan match {
      case Project(_, r: LogicalRDD) => r.rdd.isCheckpointed
      case r: LogicalRDD => r.rdd.isCheckpointed
      case _ => false
    }
    if (!integral(idType) || !coord(xType) || !coord(yType) || !(eps > 0) || threshold < 0 ||
        !stored && plan.stats.sizeInBytes > threshold) return None
    // 8 bytes of row overhead plus each column's default size: the row
    // width Spark's size estimates use
    val maxRows = math.min(DriverMaxEdges, threshold / (8 + pts.schema.map(_.dataType.defaultSize).sum))
    // one partition, so the limit is one job whatever the input's width
    // BOUNDED: at most maxRows + 1 (≤ DriverMaxEdges + 1) rows of (id, x, y)
    val rows = pts.coalesce(1).limit(maxRows.toInt + 1).collect()
    if (rows.length > maxRows) return None

    // Catalyst's long arithmetic: overflow-checked under ANSI, else wrapping
    val ansi = conf.ansiEnabled
    def add(a: Long, b: Long) = if (ansi) Math.addExact(a, b) else a + b
    def sqLong(k: Int, a: Int, b: Int) = {
      val (u, v) = (rows(a).getLong(k), rows(b).getLong(k))
      val d = if (ansi) Math.subtractExact(u, v) else u - v
      if (ansi) Math.multiplyExact(d, d) else d * d
    }
    val ids = rows.map(r => if (r.isNullAt(0)) 0L else r.get(0).asInstanceOf[Number].longValue)
    def sq(t: DataType, k: Int, a: Int, b: Int): Double =
      if (t == LongType) sqLong(k, a, b).toDouble
      else { val d = rows(a).getDouble(k) - rows(b).getDouble(k); d * d }
    def d2(a: Int, b: Int): Double =
      if (xType == LongType && yType == LongType) add(sqLong(1, a, b), sqLong(2, a, b)).toDouble
      else sq(xType, 1, a, b) + sq(yType, 2, a, b)
    def cell(k: Int, i: Int) = math.floor(rows(i).get(k).asInstanceOf[Number].doubleValue / eps).toLong
    val cells = rows.indices.filter(i => !(0 to 2).exists(rows(i).isNullAt))
      .groupBy(i => (cell(1, i), cell(2, i)))

    def around(c: (Long, Long)) = for (sx <- -1L to 1L; sy <- -1L to 1L)
      yield cells.getOrElse((add(c._1, sx), add(c._2, sy)), IndexedSeq.empty)
    // the candidate pairs bound the driver's work and the ε-pairs: a
    // dense blob goes to the distributed path before any is computed
    val candidates = cells.iterator.map { case (c, as) => as.size.toLong * around(c).map(_.size).sum }.sum
    if (candidates > DriverMaxEdges) return None

    // directed ε-pairs (a, b) of row indices, both orientations
    val e2 = eps * eps
    val pairs = for ((c, as) <- cells.toArray; bs <- around(c); a <- as; b <- bs
                     if ids(a) != ids(b) && d2(a, b) <= e2) yield (a, b)

    val degree = new mutable.LongMap[Int]()
    for ((a, _) <- pairs) degree(ids(a)) = degree.getOrElse(ids(a), 0) + 1
    def core(i: Int) = minSamples <= 1 || degree.getOrElse(ids(i), 0) >= minSamples - 1
    val labels = driverUnionFind(pairs.iterator.filter { case (a, b) => core(a) && core(b) }
      .flatMap { case (a, b) => Iterator(ids(a), ids(b)) }.toArray)
    def label(i: Int) = labels.getOrElse(ids(i), ids(i))

    val out: Seq[Row] =
      if (minSamples <= 1) rows.indices.map(i =>
        if (rows(i).isNullAt(0)) Row(null, null) else Row(ids(i), label(i)))
      else {
        val cores = pairs.iterator.map(_._1).filter(core).map(a => ids(a) -> label(a)).toMap
        val borders = new mutable.LongMap[Long]()
        for ((a, b) <- pairs if !core(a) && core(b))
          borders(ids(a)) = math.min(borders.getOrElse(ids(a), Long.MaxValue), label(b))
        (cores ++ borders).toSeq.map { case (id, l) => Row(id, l) }
      }
    val schema = StructType(Seq(StructField("_id", LongType), StructField("_label", LongType)))
    Some(spark.createDataFrame(out.asJava, schema)
      .select(col("_id").cast(idType).as("_id"), col("_label").cast(idType).as("_label")))
  }

  /** The scale path: the ε-graph as a cell-bucketed self-join, core
    * and border frames, and [[connectedComponents]] over the core-core
    * pairs; returns (`_id`, `_label`). */
  private def distributed(points: DataFrame, eps: Double, minSamples: Int): DataFrame = {
    // spread (NO checkpoint): `points` typically arrives from an
    // AQE-coalesced aggregate (1 post-shuffle partition at small SF),
    // and every downstream map — binning, the 9× probe explode, the
    // pair join's shuffle write — inherits this repartition's width
    // (the r05 tasks=1 stages, VERDICT #2). The two consumers inside
    // one job (binned + probe) converge on the same exchange, which
    // AQE reuses; the labels job re-scans the source once more. Two
    // source scans beat a materialization job at this end — and at
    // 100 TB, pinning a FACT-sized points frame on executor storage
    // is the bigger hazard (r10).
    val pts = graft.core.Tables.spread(points, col("_id"))

    val (cx, cy) = Spatial.cellCoords(col("_x"), col("_y"), eps)
    val binned0 = pts.withColumn("_cx", cx).withColumn("_cy", cy)
    // Pin the ε-cell self-join's width: BOTH sides explicitly hash-
    // partitioned on the join key (a user repartition is exempt from
    // AQE coalescing, and EnsureRequirements adds no further
    // exchange), so the d2 evaluation over candidate pairs runs at
    // full parallelism instead of the single post-shuffle task AQE
    // picks for byte-small inputs.
    val binned = graft.core.Tables.spread(binned0, col("_cx"), col("_cy"))
    val probe = graft.core.Tables.spread(
      Spatial.withNeighborCells(binned0, Seq("_cx" -> col("_cx"), "_cy" -> col("_cy")))
        .select(col("_id").as("_bid"), col("_x").as("_bx"), col("_y").as("_by"),
          col("_cx"), col("_cy")),
      col("_cx"), col("_cy"))

    val d2 = (col("_x") - col("_bx")) * (col("_x") - col("_bx")) +
      (col("_y") - col("_by")) * (col("_y") - col("_by"))
    // directed neighbor pairs (a, b), a != b, dist <= eps
    val pairsLazy = binned.join(probe, Seq("_cx", "_cy"))
      .where(col("_id") =!= col("_bid") && d2 <= eps * eps)
      .select(col("_id").as("_a"), col("_bid").as("_b"))

    // the point itself counts toward minSamples (sklearn); isolated
    // points have no pair rows, so minSamples<=1 -> everything core,
    // every edge core-core, and the border set is empty by
    // construction — skip the core/border machinery entirely. The
    // pair join stays LAZY here: connectedComponents canonicalizes
    // and checkpoints its edge input exactly once up front — a
    // second checkpoint job here would be pure overhead.
    if (minSamples <= 1) return connectedComponents(pts.select("_id"), pairsLazy)

    // minSamples > 1: degrees/core/border each rescan the pairs —
    // materialize once. persist (recomputable, spills), not
    // localCheckpoint: the ε-pair graph is fact-sized.
    val pairs = pairsLazy
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    val degrees = pairs.groupBy("_a").agg(count(lit(1)).as("_deg"))
    val core = degrees.where(col("_deg") >= minSamples - 1)
      .select(col("_a").as("_id"))
      // persist: core-point ids are linear in input points
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stays LAZY for the same reason as the minSamples<=1 pair join:
    // connectedComponents materializes the canonicalized edge list
    // exactly once itself, and both inputs of this join are already
    // checkpointed — a checkpoint job here is pure fixed latency.
    val coreEdges = pairs
      .join(core.withColumnRenamed("_id", "_a"), Seq("_a"), "left_semi")
      .join(core.withColumnRenamed("_id", "_b"), Seq("_b"), "left_semi")
      .select("_a", "_b")

    // smallest-label propagation over the core-core graph
    val labels = connectedComponents(core, coreEdges)

    // border points: non-core with >=1 core neighbor -> min core label
    val borderAssign = pairs
      .join(core.withColumnRenamed("_id", "_a"), Seq("_a"), "left_anti")  // a not core
      .join(labels.withColumnRenamed("_id", "_b"), Seq("_b"))             // b core, labeled
      .groupBy(col("_a").as("_id")).agg(min("_label").as("_label"))

    labels.unionByName(borderAssign)
  }
}
