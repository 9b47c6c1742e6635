package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Spatial joins re-expressed as cell-bucketed equi-joins.
  *
  * The reference does nearest-neighbor matching against a calibrator
  * catalog via a per-row healpix index probe over a Mongo connection
  * (PS1Cal_matching.py:21-132, :135-217) and point-in-circle dust
  * tagging via a python loop over grains (srcdf.py:616-694). SURVEY
  * §2 gives J3/J4 match_to_PS1cal, J9 tag_dust and M1 cluster_sources
  * one recipe, and every join here is it: bucket both sides on a cell
  * no smaller than the match distance, equi-join each left cell with
  * the right side exploded to its neighbour cells, keep the pairs
  * within the residual distance (exact, no false negatives:
  * `candidates`), then the best right row per left id, left-joined
  * back (`bestPerLeft`, on [[GroupOps.topKPerGroup]]). The planar
  * grid, the HEALPix pixel and the 3D chord grid differ only in the
  * keys and the distance they supply; M1's DBSCAN explodes its
  * ε-graph probe side with the same `withNeighborCells`.
  *
  * At 100 TB the cell id is a high-cardinality shuffle key (no skew
  * hot-spots for approximately uniform skies); the catalog side is
  * usually small enough to broadcast.
  */
object Spatial {

  /** Planar grid-cell coordinates for bucketing at `cellSize`. */
  def cellCoords(x: Column, y: Column, cellSize: Double): (Column, Column) =
    (floor(x / cellSize).cast("long"), floor(y / cellSize).cast("long"))

  /** `df` exploded to its 3×3 (3×3×3) neighbour cells: each `cells`
    * (name, cell id) dimension steps by -1, 0, 1 into column `name`. */
  private[operators] def withNeighborCells(df: DataFrame,
                                           cells: Seq[(String, Column)]): DataFrame = {
    val steps = cells.indices.map(i => s"_step$i")
    val exploded = steps.foldLeft(df)(
      (d, s) => d.withColumn(s, explode(array(lit(-1), lit(0), lit(1)))))
    cells.zip(steps).foldLeft(exploded) { case (d, ((name, cell), s)) =>
      d.withColumn(name, cell + col(s))
    }.drop(steps: _*)
  }

  /** The one candidate builder: `leftKeyed` equi-joins `rightKeyed`
    * (broadcast unless `broadcastRight` is false) on `keys`, the pairs
    * with `dist <= bound` survive, projected to `leftId`, `right`'s
    * columns but `leftId`, and `dist` as `distCol` when one is named. */
  private def candidates(leftKeyed: DataFrame, leftId: String,
                         right: DataFrame, rightKeyed: DataFrame, keys: Seq[String],
                         broadcastRight: Boolean, dist: Column, bound: Column,
                         distCol: Option[String]): DataFrame = {
    val rightSide = if (broadcastRight) broadcast(rightKeyed) else rightKeyed
    val d = distCol.getOrElse("_dist")
    val rightCols = right.columns.filter(_ != leftId).toIndexedSeq
    leftKeyed.join(rightSide, keys)
      .withColumn(d, dist)
      .where(col(d) <= bound)
      .select((col(leftId) +: rightCols.map(col)) ++ distCol.map(col): _*)
  }

  /** Planar candidates on a grid of `cellSize`, the squared distance
    * checked against `bound`. */
  private def planarCandidates(left: DataFrame, leftId: String, lx: String, ly: String,
                               right: DataFrame, rx: String, ry: String,
                               cellSize: Double, bound: Column, distCol: Option[String],
                               broadcastRight: Boolean): DataFrame = {
    val (lcx, lcy) = cellCoords(col(lx), col(ly), cellSize)
    val (rcx, rcy) = cellCoords(col(rx), col(ry), cellSize)
    val d2 = (col(lx) - col(rx)) * (col(lx) - col(rx)) +
      (col(ly) - col(ry)) * (col(ly) - col(ry))
    candidates(left.withColumn("_cx", lcx).withColumn("_cy", lcy), leftId,
      right, withNeighborCells(right, Seq("_cx" -> rcx, "_cy" -> rcy)), Seq("_cx", "_cy"),
      broadcastRight, d2, bound, distCol)
  }

  /** Every `left` row with its first candidate under `order` — null
    * right columns when it has none. */
  private def bestPerLeft(left: DataFrame, leftId: String, cand: DataFrame,
                          order: Column*): DataFrame =
    left.join(GroupOps.topKPerGroup(cand, Seq(leftId), order, 1).drop("rank_in_group"),
      Seq(leftId), "left")

  /** J3/J4: nearest neighbor within `radius`, else null columns (the
    * reference's NaN-flag semantics, PS1Cal_matching.py:113-117).
    *
    * Left: one row per query point with unique `leftId`. Right: the
    * catalog; its columns are attached to the matched rows. Ties on
    * distance break by `rightId` (deterministic). `broadcastRight`
    * for dimension-sized catalogs.
    */
  def nnJoinWithin(left: DataFrame, leftId: String, lx: String, ly: String,
                   right: DataFrame, rightId: String, rx: String, ry: String,
                   radius: Double, broadcastRight: Boolean = true): DataFrame =
    bestPerLeft(left, leftId,
      planarCandidates(left, leftId, lx, ly, right, rx, ry, radius, lit(radius * radius),
        Some("dist2"), broadcastRight),
      col("dist2"), col(rightId))

  /** k-nearest-neighbors join (the k > 1 generalization of
    * [[nnJoinWithin]]): up to `k` right rows per left row within
    * `radius`, rank-ordered by (dist², rightId). Same grid-cell
    * candidate generation — cost ∝ genuine radius neighbors, never
    * all pairs. INNER semantics: a left row with fewer than k
    * in-radius neighbors emits fewer rows, one with none emits none
    * (the LEFT/null-flag convention stays with the k = 1 reference
    * twin). */
  def knnJoinWithin(left: DataFrame, leftId: String, lx: String, ly: String,
                    right: DataFrame, rightId: String, rx: String, ry: String,
                    radius: Double, k: Int,
                    broadcastRight: Boolean = true): DataFrame = {
    require(k >= 1, s"k=$k")
    val cand = planarCandidates(left, leftId, lx, ly, right, rx, ry, radius,
      lit(radius * radius), Some("dist2"), broadcastRight)
    GroupOps.topKPerGroup(cand, Seq(leftId), Seq(col("dist2"), col(rightId)), k)
      .withColumnRenamed("rank_in_group", "rank")
  }

  /** J3 on the sphere: nearest neighbor within an angular radius for
    * (ra, dec) degree coordinates — wrap- and pole-safe.
    *
    * Two interchangeable cell schemes generate candidates (identical
    * results — the residual distance predicate and ranking are
    * shared; HealpixSpec asserts equality), picked by the radius:
    *
    *  - [[nnJoinSphereHealpix]]: the codegen'd HEALPix NESTED cell id
    *    (the reference's own index structure,
    *    PS1Cal_matching.py:198-200) on the left side, and the disk
    *    cover of each right row's pixel as the neighbor set. Equal-
    *    area cells — no pole-cap skew in the shuffle key. Used up to
    *    half a base-face scale;
    *  - [[nnJoinSphereGrid]] beyond it: 3D unit-vector embedding;
    *    angular separation θ = chord 2·sin(θ/2), so a 3×3×3 chord-grid
    *    neighborhood is an exact euclidean range search.
    *
    * Ranking uses the angular distance rounded to 1e-6 degrees (libm
    * trig differs across platforms in the last ulp), ties broken by
    * `rightId`.
    */
  def nnJoinSphere(left: DataFrame, leftId: String, lRa: String, lDec: String,
                   right: DataFrame, rightId: String, rRa: String, rDec: String,
                   radiusDeg: Double, broadcastRight: Boolean = true): DataFrame = {
    if (math.toRadians(radiusDeg) <= 0.5 * graft.functions.Healpix.pixelScaleRad(1))
      nnJoinSphereHealpix(left, leftId, lRa, lDec, right, rightId, rRa, rDec,
        radiusDeg, broadcastRight)
    else
      nnJoinSphereGrid(left, leftId, lRa, lDec, right, rightId, rRa, rDec,
        radiusDeg, broadcastRight)
  }

  /** The unit vector (x, y, z) of (ra, dec) degrees, shared by both
    * cell schemes so their distances are identical. */
  private def unitVec(ra: Column, dec: Column): (Column, Column, Column) = (
    cos(radians(dec)) * cos(radians(ra)),
    cos(radians(dec)) * sin(radians(ra)),
    sin(radians(dec)))

  /** HEALPix-bucketed flavor: left side keyed by its pixel (compiled
    * expression in the scan stage), right side exploded to the disk
    * cover of its pixel — dimension-sized by contract. */
  def nnJoinSphereHealpix(left: DataFrame, leftId: String, lRa: String, lDec: String,
                          right: DataFrame, rightId: String, rRa: String, rDec: String,
                          radiusDeg: Double, broadcastRight: Boolean = true): DataFrame = {
    import graft.functions.{Expressions, Healpix}
    val radiusRad = math.toRadians(radiusDeg)
    val nside = Healpix.nsideFor(radiusRad)
    nearestOnSphere(left, leftId, lRa, lDec, right, rightId, rRa, rDec, radiusDeg,
        broadcastRight, Seq("_hpx"))(
      _.withColumn("_hpx", Expressions.healpixCell(
        col(lRa).cast("double"), col(lDec).cast("double"), nside)),
      _.withColumn("_hpx", explode(Expressions.healpixCoverDisk(
        col(rRa).cast("double"), col(rDec).cast("double"), nside, radiusRad))))
  }

  /** 3D chord-grid flavor (r01 implementation). */
  def nnJoinSphereGrid(left: DataFrame, leftId: String, lRa: String, lDec: String,
                       right: DataFrame, rightId: String, rRa: String, rDec: String,
                       radiusDeg: Double, broadcastRight: Boolean = true): DataFrame = {
    val chord = 2.0 * math.sin(math.toRadians(radiusDeg) / 2.0)
    def cellId(c: String): Column = floor(col(c) / chord).cast("long")
    val keys = Seq("_cx", "_cy", "_cz")
    nearestOnSphere(left, leftId, lRa, lDec, right, rightId, rRa, rDec, radiusDeg,
        broadcastRight, keys)(
      l => keys.zip(Seq("_ux", "_uy", "_uz"))
        .foldLeft(l) { case (d, (k, u)) => d.withColumn(k, cellId(u)) },
      withNeighborCells(_, keys.zip(Seq("_vx", "_vy", "_vz").map(cellId))))
  }

  /** Both sphere flavors: unit vectors (`_ux`.. left, `_vx`.. right)
    * keyed by the scheme's `leftCells` / `rightCells` on `keys`, the
    * angular distance `dist_deg` rounded to 1e-6 degrees, the nearest
    * within `radiusDeg` kept per left row. */
  private def nearestOnSphere(left: DataFrame, leftId: String, lRa: String, lDec: String,
                              right: DataFrame, rightId: String, rRa: String, rDec: String,
                              radiusDeg: Double, broadcastRight: Boolean, keys: Seq[String])(
                              leftCells: DataFrame => DataFrame,
                              rightCells: DataFrame => DataFrame): DataFrame = {
    val (lx, ly, lz) = unitVec(col(lRa), col(lDec))
    val (rx, ry, rz) = unitVec(col(rRa), col(rDec))
    val chord2 = (col("_ux") - col("_vx")) * (col("_ux") - col("_vx")) +
      (col("_uy") - col("_vy")) * (col("_uy") - col("_vy")) +
      (col("_uz") - col("_vz")) * (col("_uz") - col("_vz"))
    val distDeg = round(degrees(lit(2.0) * asin(sqrt(chord2) / 2.0)), 6)
    val cand = candidates(
      leftCells(left.withColumn("_ux", lx).withColumn("_uy", ly).withColumn("_uz", lz)),
      leftId, right,
      rightCells(right.withColumn("_vx", rx).withColumn("_vy", ry).withColumn("_vz", rz)),
      keys, broadcastRight, distDeg, lit(radiusDeg), Some("dist_deg"))
    bestPerLeft(left, leftId, cand, col("dist_deg"), col(rightId))
  }

  /** J9: point-in-circle theta join with largest-grain-wins
    * (srcdf.py:616-694 tag_dust: sort-asc-overwrite becomes a
    * rank-desc window). Returns every source row; non-contained
    * sources keep null grain columns — split on `grainR IS NULL` for
    * clean/dusty.
    *
    * Cell-bucketed (VERDICT r01 #4): grid cells of size
    * max(r)·multiplier mean every circle fits inside one cell step,
    * so exploding each grain to its 3×3 neighborhood turns the
    * distance theta-join into an equi-join on cell id + residual
    * predicate — O(per-cell candidates), not O(sources × grains), and
    * the plan is a hash join instead of a BroadcastNestedLoopJoin.
    * One tiny driver-side max() on the dimension-sized grain table
    * picks the cell size. `broadcastGrains = false` shuffles both
    * sides on the cell id for grain tables too big to broadcast.
    */
  def thetaCircleJoin(sources: DataFrame, srcId: String, sx: String, sy: String,
                      grains: DataFrame, grainId: String, gx: String, gy: String,
                      gr: String, radiusMultiplier: Double = 1.0,
                      broadcastGrains: Boolean = true): DataFrame = {
    // BOUNDED: single-row global aggregate
    val maxR = Option(grains.agg(max(col(gr).cast("double"))).collect()(0).get(0))
      .map(_.asInstanceOf[Double]).getOrElse(0.0)
    val cellSize = math.max(maxR * radiusMultiplier, 1e-9)
    val rr = col(gr) * radiusMultiplier
    bestPerLeft(sources, srcId,
      planarCandidates(sources, srcId, sx, sy, grains, gx, gy, cellSize, rr * rr,
        None, broadcastGrains),
      col(gr).desc, col(grainId))
  }
}
