package graft.functions

/** HEALPix NESTED pixelization (Górski et al. 2005, ApJ 622, 759 —
  * the published ang2pix/pix2ang formulas; no code is derived from
  * GPL HEALPix distributions). Plays the role of the reference's
  * healpix index probe (PS1Cal_matching.py:198-200) as a compiled,
  * equal-area, pole-safe spherical cell id.
  *
  * Conventions: ra/dec in degrees; pixel = face·nside² + Morton
  * interleave of the in-face (ix, iy); nside a power of two.
  *
  * Neighborhood for radius joins: [[coverDisk]] returns every pixel
  * hit by a dense sample of the disk of radius r + 2·pixel-scale
  * around a pixel center — a superset of all pixels a radius-r match
  * can fall in when r ≤ 0.5·[[pixelScaleRad]] (HealpixSpec proves
  * equality against the 3D-chord-grid join on uniform, polar and
  * wraparound skies). Table-free by construction.
  */
object Healpix {

  /** characteristic pixel side in radians: sqrt(4π/12)/nside */
  def pixelScaleRad(nside: Int): Double = math.sqrt(math.Pi / 3.0) / nside

  /** largest power-of-two nside keeping radius ≤ 0.5·pixelScale
    * (the coverDisk correctness precondition), capped at 2^13. */
  def nsideFor(radiusRad: Double): Int = {
    var nside = 1
    while (nside < 8192 && radiusRad <= 0.5 * pixelScaleRad(nside * 2)) nside *= 2
    nside
  }

  /** spread the low 32 bits of v to even bit positions (Morton) */
  private def spreadBits(v: Long): Long = {
    var x = v & 0xffffffffL
    x = (x | (x << 16)) & 0x0000ffff0000ffffL
    x = (x | (x << 8)) & 0x00ff00ff00ff00ffL
    x = (x | (x << 4)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x << 2)) & 0x3333333333333333L
    x = (x | (x << 1)) & 0x5555555555555555L
    x
  }

  private def compactBits(v: Long): Long = {
    var x = v & 0x5555555555555555L
    x = (x | (x >> 1)) & 0x3333333333333333L
    x = (x | (x >> 2)) & 0x0f0f0f0f0f0f0f0fL
    x = (x | (x >> 4)) & 0x00ff00ff00ff00ffL
    x = (x | (x >> 8)) & 0x0000ffff0000ffffL
    x = (x | (x >> 16)) & 0x00000000ffffffffL
    x
  }

  /** ang2pix NESTED from (z = sin dec, phi = ra rad) — the published
    * equatorial/polar zone formulas. */
  def zphi2pixNest(nside: Int, z: Double, phi: Double): Long = {
    val za = math.abs(z)
    val twoPi = 2.0 * math.Pi
    val tt = {
      val p = ((phi % twoPi) + twoPi) % twoPi
      p * (2.0 / math.Pi) // in [0, 4)
    }
    var face = 0
    var ix = 0L
    var iy = 0L
    if (za <= 2.0 / 3.0) {
      // equatorial region
      val temp1 = nside * (0.5 + tt)
      val temp2 = nside * (z * 0.75)
      val jp = (temp1 - temp2).toLong // ascending-edge index
      val jm = (temp1 + temp2).toLong // descending-edge index
      val ifp = jp / nside
      val ifm = jm / nside
      face =
        if (ifp == ifm) (ifp & 3).toInt + 4
        else if (ifp < ifm) (ifp & 3).toInt
        else (ifm & 3).toInt + 8
      ix = jm & (nside - 1)
      iy = nside - (jp & (nside - 1)) - 1
    } else {
      // polar caps
      val ntt = math.min(3, tt.toInt)
      val tp = tt - ntt
      val tmp = nside * math.sqrt(3.0 * (1.0 - za))
      var jp = (tp * tmp).toLong
      var jm = ((1.0 - tp) * tmp).toLong
      if (jp >= nside) jp = nside - 1
      if (jm >= nside) jm = nside - 1
      if (z >= 0) {
        face = ntt
        ix = nside - jm - 1
        iy = nside - jp - 1
      } else {
        face = ntt + 8
        ix = jp
        iy = jm
      }
    }
    face.toLong * nside.toLong * nside.toLong + (spreadBits(ix) | (spreadBits(iy) << 1))
  }

  def ang2pixNest(nside: Int, raDeg: Double, decDeg: Double): Long =
    zphi2pixNest(nside, math.sin(math.toRadians(decDeg)), math.toRadians(raDeg))

  // face rows (jrll) and phi offsets (jpll) of the 12 base faces —
  // geometric constants from the HEALPix paper's face layout
  private val jrll = Array(2, 2, 2, 2, 3, 3, 3, 3, 4, 4, 4, 4)
  private val jpll = Array(1, 3, 5, 7, 0, 2, 4, 6, 1, 3, 5, 7)

  /** pixel center as (z, phi) — published pix2ang NESTED formulas. */
  def pix2zphiNest(nside: Int, pix: Long): (Double, Double) = {
    val npface = nside.toLong * nside.toLong
    val face = (pix / npface).toInt
    val t = pix % npface
    val ix = compactBits(t)
    val iy = compactBits(t >> 1)
    val jr = jrll(face).toLong * nside - ix - iy - 1 // ring index 1..4nside-1
    var nr = 0L
    var z = 0.0
    var kshift = 0L
    if (jr < nside) { // north cap
      nr = jr
      z = 1.0 - (nr * nr).toDouble / (3.0 * nside * nside)
      kshift = 0
    } else if (jr > 3L * nside) { // south cap
      nr = 4L * nside - jr
      z = -1.0 + (nr * nr).toDouble / (3.0 * nside * nside)
      kshift = 0
    } else { // equatorial belt
      nr = nside
      z = (2L * nside - jr).toDouble * 2.0 / (3.0 * nside)
      kshift = (jr - nside) & 1L
    }
    var jp = (jpll(face).toLong * nr + ix - iy + 1 + kshift) / 2
    val nl4 = 4L * nr
    if (jp > nl4) jp -= nl4
    if (jp < 1) jp += nl4
    val phi = (jp - (kshift + 1) * 0.5) * (math.Pi / (2.0 * nr))
    (z, phi)
  }

  // ---------------------------------------------------------------
  // RING-scheme geometry (the published ring layout: cap ring i has
  // 4i pixels at z = 1 - i²/(3·nside²); equatorial rings have
  // 4·nside pixels at z = (2·nside - i)·2/(3·nside); south mirrors)
  // ---------------------------------------------------------------

  /** z of ring i (1..4·nside-1) — identical arithmetic to
    * [[pix2zphiNest]]'s branches. */
  def ringZ(nside: Int, i: Long): Double = {
    val n = nside.toLong
    if (i < n) 1.0 - (i * i).toDouble / (3.0 * n * n)
    else if (i > 3 * n) {
      val nr = 4 * n - i
      -1.0 + (nr * nr).toDouble / (3.0 * n * n)
    } else (2 * n - i).toDouble * 2.0 / (3.0 * n)
  }

  /** NESTED id of ring-scheme pixel (ring `i`, 1-based φ index `j`).
    * Cap faces/offsets follow from inverting this file's pix2ang
    * (j = face·i + l + 1 in the caps); the equatorial branch feeds
    * the EXACT integer edge indices jp = j-1 + (i-n-kshift)/2 and
    * jm = j-1 + (3n-i-kshift)/2 through the same face/ix/iy logic as
    * [[zphi2pixNest]] — one derivation, two entry points. */
  def ringPixToNest(nside: Int, i: Long, j: Long): Long = {
    val n = nside.toLong
    val npface = n * n
    def nest(face: Int, ix: Long, iy: Long): Long =
      face.toLong * npface + (spreadBits(ix) | (spreadBits(iy) << 1))
    if (i < n) { // north cap: ring i has 4i pixels, faces 0..3
      val f = ((j - 1) / i).toInt
      val l = (j - 1) % i
      nest(f, n - i + l, n - 1 - l)
    } else if (i > 3 * n) { // south cap: ring i' = 4n - i, faces 8..11
      val i2 = 4 * n - i
      val f = 8 + ((j - 1) / i2).toInt
      val l = (j - 1) % i2
      nest(f, l, i2 - 1 - l)
    } else { // equatorial belt
      val kshift = (i - n) & 1
      val jp = j - 1 + (i - n - kshift) / 2
      val jm = j - 1 + (3 * n - i - kshift) / 2
      val ifp = jp / n
      val ifm = jm / n
      val face =
        if (ifp == ifm) (ifp & 3).toInt + 4
        else if (ifp < ifm) (ifp & 3).toInt
        else (ifm & 3).toInt + 8
      nest(face, jm & (n - 1), n - (jp & (n - 1)) - 1)
    }
  }

  /** Angular distance between (z, φ) points — shared by the cover and
    * its brute-force spec so both evaluate the boundary identically. */
  def angDistRad(z1: Double, phi1: Double, z2: Double, phi2: Double): Double = {
    val st1 = math.sqrt(math.max(0.0, 1.0 - z1 * z1))
    val st2 = math.sqrt(math.max(0.0, 1.0 - z2 * z2))
    val c = z1 * z2 + st1 * st2 * math.cos(phi1 - phi2)
    math.acos(math.max(-1.0, math.min(1.0, c)))
  }

  /** Cover pad: 2.2·pixScale ≥ 2 × the HEALPix maximum pixel
    * circumradius (max center-to-vertex distance ≲ 1.05·pixScale, at
    * the elongated cap-edge pixels), so any pixel containing a
    * radius-r match of any point in `pix` has its CENTER within
    * r + pad of `pix`'s center. */
  def coverPadRad(nside: Int): Double = 2.2 * pixelScaleRad(nside)

  /** All pixels a radius-`radiusRad` match around any point of `pix`
    * can fall in — ANALYTIC: exactly the pixels whose center lies
    * within R = radiusRad + [[coverPadRad]] of the center of `pix`,
    * enumerated ring-by-ring (the rings whose colatitude crosses the
    * cap, then the φ arc each ring contributes — the classic
    * query_disc shape, no sampling anywhere). Output is sorted.
    * HealpixCoverSpec proves set equality against brute-force
    * all-pixel enumeration; HealpixSpec proves the join contract
    * against the 3D-chord grid on uniform, polar and wraparound
    * skies. Cover size ≈ π·R²/scale² (≈20 at the [[nsideFor]]
    * operating point) — dimension-sized for the join's explode side. */
  def coverDisk(nside: Int, pix: Long, radiusRad: Double): Array[Long] = {
    val n = nside.toLong
    val (z0, phi0) = pix2zphiNest(nside, pix)
    val theta0 = math.acos(math.max(-1.0, math.min(1.0, z0)))
    val rr = radiusRad + coverPadRad(nside)
    val cosR = math.cos(rr)
    // fractional ring index at a given z (monotone in colatitude)
    def ringAt(z: Double): Double =
      if (z > 2.0 / 3.0) n * math.sqrt(3.0 * (1.0 - z))
      else if (z >= -2.0 / 3.0) 1.5 * n * (4.0 / 3.0 - z)
      else 4.0 * n - n * math.sqrt(3.0 * (1.0 + z))
    val zHi = math.cos(math.max(0.0, theta0 - rr))
    val zLo = math.cos(math.min(math.Pi, theta0 + rr))
    val iLo = math.max(1L, math.floor(ringAt(zHi)).toLong - 1)
    val iHi = math.min(4 * n - 1, math.ceil(ringAt(zLo)).toLong + 1)
    val out = new java.util.TreeSet[java.lang.Long]()
    var i = iLo
    while (i <= iHi) {
      val zi = ringZ(nside, i)
      val (npr, off) =
        if (i < n) (4 * i, 0.5)
        else if (i > 3 * n) (4 * (4 * n - i), 0.5)
        else (4 * n, (((i - n) & 1) + 1) * 0.5)
      val sp = 2.0 * math.Pi / npr // φ spacing; center of j at (j - off)·sp...
      // φ of 1-based pixel j on this ring: (j - off) * sp
      val sti = math.sqrt(math.max(0.0, 1.0 - zi * zi))
      val st0 = math.sqrt(math.max(0.0, 1.0 - z0 * z0))
      val denom = sti * st0
      val x = if (denom > 0) (cosR - zi * z0) / denom else 2.0
      if (x <= -1.0 || (denom == 0 && zi * z0 >= cosR)) {
        // whole ring inside the cap
        var j = 1L
        while (j <= npr) { out.add(ringPixToNest(nside, i, j)); j += 1 }
      } else {
        val dphi = if (x >= 1.0) 0.0 else math.acos(x)
        // candidate j range around φ0, padded one pixel each side,
        // then the EXACT center-distance test (same evaluation the
        // brute-force spec uses)
        val jc = phi0 / sp + off
        val jFrom = math.floor(jc - dphi / sp).toLong - 1
        val jTo = math.ceil(jc + dphi / sp).toLong + 1
        if (jTo - jFrom + 1 >= npr) {
          var j = 1L
          while (j <= npr) {
            val pj = (j - off) * sp
            if (angDistRad(zi, pj, z0, phi0) <= rr)
              out.add(ringPixToNest(nside, i, j))
            j += 1
          }
        } else {
          var jw = jFrom
          while (jw <= jTo) {
            val j = ((jw - 1) % npr + npr) % npr + 1 // wrap to 1..npr
            val pj = (j - off) * sp
            if (angDistRad(zi, pj, z0, phi0) <= rr)
              out.add(ringPixToNest(nside, i, j))
            jw += 1
          }
        }
      }
      i += 1
    }
    out.add(pix) // the center pixel is in its own cover by definition
    val res = new Array[Long](out.size())
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { res(k) = it.next(); k += 1 }
    res
  }
}
