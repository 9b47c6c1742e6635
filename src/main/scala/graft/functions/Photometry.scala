package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Photometric-calibration column math.
  *
  * Re-expresses the reference's vectorized pandas/numpy arithmetic
  * (dataslicer/srcdf.py, dataslicer/objtable.py) as Catalyst column
  * expressions — whole-stage-codegen'd, no UDFs.
  */
object Photometry {

  /** C1: integer composite key by *string concatenation* (exact
    * reference semantics: `int(str(a)+str(b))`, metadata.py:167-169,
    * objtable.py:102-108). NOT a bit-pack: 12 + 3 -> 123.
    */
  def compositeKey(a: Column, b: Column): Column =
    concat(a.cast(StringType), b.cast(StringType)).cast(LongType)

  /** C2: calibrated magnitude (srcdf.py:425-443 calmag).
    * cal = mag + zp + clrcoeff * (c1 - c2); with no color term:
    * cal = mag + zp.
    */
  def calMag(mag: Column, zp: Column, clrcoeff: Option[Column] = None,
             color1: Option[Column] = None, color2: Option[Column] = None): Column =
    (clrcoeff, color1, color2) match {
      case (Some(cc), Some(c1), Some(c2)) => mag + zp + cc * (c1 - c2)
      case _                              => mag + zp
    }

  /** C2: error propagation for calMag (srcdf.py:432-443):
    * err = sqrt( σm² + σzp² + (σc·(c1−c2))² + (c·sqrt(σc1²+σc2²))² )
    */
  def calMagErr(eMag: Column, eZp: Column, clrcoeff: Column, eClrcoeff: Column,
                color1: Column, color2: Column, eColor1: Column, eColor2: Column): Column =
    sqrt(
      eMag * eMag +
        eZp * eZp +
        (eClrcoeff * (color1 - color2)) * (eClrcoeff * (color1 - color2)) +
        (clrcoeff * sqrt(eColor1 * eColor1 + eColor2 * eColor2)) *
          (clrcoeff * sqrt(eColor1 * eColor1 + eColor2 * eColor2)))

  /** C3: band-conditional column choice (objtable.py:307-313,
    * _objtable_methods.py:158-188): filters {1,2} use the (g,r)
    * colors, others use (r,i).
    */
  def bandConditional(filterId: Column, gr: Column, ri: Column): Column =
    when(filterId.isin(1, 2), gr).otherwise(ri)

  /** C6: absolute difference in millimags (_objtable_methods.py:238). */
  def absMilliMag(a: Column, b: Column): Column = abs(a - b) * 1000

  /** C12: haversine great-circle distance in degrees between two
    * (ra, dec) pairs given in degrees (objtable.py:152-156,
    * PS1Cal_matching.py:100-104). Pure codegen'd column expr.
    */
  def haversineDeg(ra1: Column, dec1: Column, ra2: Column, dec2: Column): Column = {
    val dLat = radians(dec2 - dec1) / 2
    val dLon = radians(ra2 - ra1) / 2
    val h = sin(dLat) * sin(dLat) +
      cos(radians(dec1)) * cos(radians(dec2)) * sin(dLon) * sin(dLon)
    degrees(asin(sqrt(h)) * 2)
  }
}
