package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Spatial joins re-expressed as cell-bucketed equi-joins.
  *
  * The reference does nearest-neighbor matching against a calibrator
  * catalog via a per-row healpix index probe over a Mongo connection
  * (PS1Cal_matching.py:21-132, :135-217) and point-in-circle dust
  * tagging via a python loop over grains (srcdf.py:616-694). Both
  * become shuffle-free-or-broadcast DataFrame joins here:
  *
  *  - grid cells of size = search radius; a point can only match
  *    candidates in its own or the 8 neighboring cells, so the
  *    theta-join collapses to an equi-join on cell id + a residual
  *    distance predicate (exact, no false negatives);
  *  - "nearest" / "largest wins" = row_number over a window.
  *
  * At 100 TB the cell id is a high-cardinality shuffle key (no skew
  * hot-spots for approximately uniform skies); the catalog side is
  * usually small enough to broadcast.
  */
object Spatial {

  /** Planar grid-cell coordinates for bucketing at `cellSize`. */
  def cellCoords(x: Column, y: Column, cellSize: Double): (Column, Column) =
    (floor(x / cellSize).cast("long"), floor(y / cellSize).cast("long"))

  /** Explode a frame to its 3x3 cell neighborhood — candidates for any
    * query point whose cell is within one step.
    */
  private def withNeighborCells(df: DataFrame, x: String, y: String,
                                cellSize: Double): DataFrame = {
    val (cx, cy) = cellCoords(col(x), col(y), cellSize)
    df.withColumn("_dx", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("_dy", explode(array(lit(-1), lit(0), lit(1))))
      .withColumn("_cx", cx + col("_dx"))
      .withColumn("_cy", cy + col("_dy"))
      .drop("_dx", "_dy")
  }

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
                   radius: Double, broadcastRight: Boolean = true): DataFrame = {
    val (lcx, lcy) = cellCoords(col(lx), col(ly), radius)
    val leftC = left.withColumn("_cx", lcx).withColumn("_cy", lcy)
    val rightC = withNeighborCells(right, rx, ry, radius)
    val rightSide = if (broadcastRight) broadcast(rightC) else rightC
    val d2 = (col(lx) - col(rx)) * (col(lx) - col(rx)) +
      (col(ly) - col(ry)) * (col(ly) - col(ry))
    val rightCols = right.columns.filter(_ != leftId).toIndexedSeq
    val cand = leftC.join(rightSide, Seq("_cx", "_cy"))
      .withColumn("dist2", d2)
      .where(col("dist2") <= radius * radius)
      .select((col(leftId) +: rightCols.map(col)) :+ col("dist2"): _*)
    val w = Window.partitionBy(leftId).orderBy(col("dist2"), col(rightId))
    val best = cand.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
    left.join(best, Seq(leftId), "left")
  }

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
    val (lcx, lcy) = cellCoords(col(lx), col(ly), radius)
    val leftC = left.withColumn("_cx", lcx).withColumn("_cy", lcy)
    val rightC = withNeighborCells(right, rx, ry, radius)
    val rightSide = if (broadcastRight) broadcast(rightC) else rightC
    val d2 = (col(lx) - col(rx)) * (col(lx) - col(rx)) +
      (col(ly) - col(ry)) * (col(ly) - col(ry))
    val rightCols = right.columns.filter(_ != leftId).toIndexedSeq
    val cand = leftC.join(rightSide, Seq("_cx", "_cy"))
      .withColumn("dist2", d2)
      .where(col("dist2") <= radius * radius)
      .select((col(leftId) +: rightCols.map(col)) :+ col("dist2"): _*)
    val w = Window.partitionBy(leftId).orderBy(col("dist2"), col(rightId))
    cand.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= k)
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
    val (lx, ly, lz) = unitVec(col(lRa), col(lDec))
    val leftC = left
      .withColumn("_ux", lx).withColumn("_uy", ly).withColumn("_uz", lz)
      .withColumn("_hpx", Expressions.healpixCell(
        col(lRa).cast("double"), col(lDec).cast("double"), nside))
    val (rx, ry, rz) = unitVec(col(rRa), col(rDec))
    val rightC = right
      .withColumn("_vx", rx).withColumn("_vy", ry).withColumn("_vz", rz)
      .withColumn("_hpx", explode(Expressions.healpixCoverDisk(
        col(rRa).cast("double"), col(rDec).cast("double"), nside, radiusRad)))
    val rightSide = if (broadcastRight) broadcast(rightC) else rightC
    val chord2 = (col("_ux") - col("_vx")) * (col("_ux") - col("_vx")) +
      (col("_uy") - col("_vy")) * (col("_uy") - col("_vy")) +
      (col("_uz") - col("_vz")) * (col("_uz") - col("_vz"))
    val distDeg = round(degrees(lit(2.0) * asin(sqrt(chord2) / 2.0)), 6)
    val rightCols = right.columns.filter(_ != leftId).toIndexedSeq
    val cand = leftC.join(rightSide, Seq("_hpx"))
      .withColumn("dist_deg", distDeg)
      .where(col("dist_deg") <= radiusDeg)
      .select((col(leftId) +: rightCols.map(col)) :+ col("dist_deg"): _*)
    val w = Window.partitionBy(leftId).orderBy(col("dist_deg"), col(rightId))
    val best = cand.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
    left.join(best, Seq(leftId), "left")
  }

  /** 3D chord-grid flavor (r01 implementation). */
  def nnJoinSphereGrid(left: DataFrame, leftId: String, lRa: String, lDec: String,
                       right: DataFrame, rightId: String, rRa: String, rDec: String,
                       radiusDeg: Double, broadcastRight: Boolean = true): DataFrame = {
    val chord = 2.0 * math.sin(math.toRadians(radiusDeg) / 2.0)
    def cellId(c: Column): Column = floor(c / chord).cast("long")

    val (lx, ly, lz) = unitVec(col(lRa), col(lDec))
    val leftC = left.withColumn("_ux", lx).withColumn("_uy", ly).withColumn("_uz", lz)
      .withColumn("_cx", cellId(col("_ux")))
      .withColumn("_cy", cellId(col("_uy")))
      .withColumn("_cz", cellId(col("_uz")))

    val (rx, ry, rz) = unitVec(col(rRa), col(rDec))
    val d = explode(array(lit(-1), lit(0), lit(1)))
    val rightC = right
      .withColumn("_vx", rx).withColumn("_vy", ry).withColumn("_vz", rz)
      .withColumn("_dx", d).withColumn("_dy", d).withColumn("_dz", d)
      .withColumn("_cx", cellId(col("_vx")) + col("_dx"))
      .withColumn("_cy", cellId(col("_vy")) + col("_dy"))
      .withColumn("_cz", cellId(col("_vz")) + col("_dz"))
      .drop("_dx", "_dy", "_dz")
    val rightSide = if (broadcastRight) broadcast(rightC) else rightC

    val chord2 = (col("_ux") - col("_vx")) * (col("_ux") - col("_vx")) +
      (col("_uy") - col("_vy")) * (col("_uy") - col("_vy")) +
      (col("_uz") - col("_vz")) * (col("_uz") - col("_vz"))
    val distDeg = round(degrees(lit(2.0) * asin(sqrt(chord2) / 2.0)), 6)
    val rightCols = right.columns.filter(_ != leftId).toIndexedSeq
    val cand = leftC.join(rightSide, Seq("_cx", "_cy", "_cz"))
      .withColumn("dist_deg", distDeg)
      .where(col("dist_deg") <= radiusDeg)
      .select((col(leftId) +: rightCols.map(col)) :+ col("dist_deg"): _*)
    val w = Window.partitionBy(leftId).orderBy(col("dist_deg"), col(rightId))
    val best = cand.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
    left.join(best, Seq(leftId), "left")
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
    val (scx, scy) = cellCoords(col(sx), col(sy), cellSize)
    val srcC = sources.withColumn("_cx", scx).withColumn("_cy", scy)
    val grainC = withNeighborCells(grains, gx, gy, cellSize)
    val grainSide = if (broadcastGrains) broadcast(grainC) else grainC
    val d2 = (col(sx) - col(gx)) * (col(sx) - col(gx)) +
      (col(sy) - col(gy)) * (col(sy) - col(gy))
    val rr = col(gr) * radiusMultiplier
    val grainCols = grains.columns.filter(_ != srcId).toIndexedSeq
    val cand = srcC.join(grainSide, Seq("_cx", "_cy"))
      .where(d2 <= rr * rr)
      .select(col(srcId) +: grainCols.map(col): _*)
    val w = Window.partitionBy(srcId).orderBy(col(gr).desc, col(grainId))
    val best = cand.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn")
    sources.join(best, Seq(srcId), "left")
  }
}
