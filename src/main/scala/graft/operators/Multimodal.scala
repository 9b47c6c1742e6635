package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata.
  *
  * The decode step dispatches on the payload's magic bytes:
  * uncompressed containers get REAL pure-JVM decoders
  * ([[MediaCodecs]]: PCM WAV audio, binary-P6 PPM images — strict
  * parsers, deterministic features), and anything else falls back to
  * the deterministic chunk-mean features (the documented seam where a
  * deployment with codec libraries plugs in JPEG/PNG/MP4 — compressed
  * codecs are not available in this environment). Everything
  * Spark-side is real either way: schema, batch iteration,
  * partitioning, feature shapes; the plan shape (scan → mapPartitions
  * batch → columnar features) is the `mapInPandas` analog.
  */
object Multimodal {

  /** Attach a binary payload column + typed metadata struct (here the
    * payload is the utf-8 text itself — a deterministic stand-in for
    * image/audio bytes). */
  def withBlob(df: DataFrame, textCol: String): DataFrame =
    df.withColumn("blob", encode(col(textCol), "UTF-8"))
      .withColumn("media_meta", struct(
        octet_length(col("blob")).as("n_bytes"),
        lit("application/octet-stream").as("mime"),
        md5(col(textCol)).as("checksum")))

  /** Decode + feature extract: per-record fixed-width feature vector,
    * dispatched on magic bytes. PCM WAV payloads decode for real
    * (tag 1: sample rate, channels, duration, rms, peak, bits,
    * frames); binary-PPM images decode for real (tag 2: width,
    * height, channel means, luma, maxval); everything else gets the
    * deterministic chunk-mean fallback (mean byte value of `dim`
    * equal chunks — the seam where compressed-codec libraries plug
    * in). Runs via mapPartitions in record batches — the Scala analog
    * of `mapInPandas` batch plumbing. Output is always a
    * `dim`-element array so mixed corpora stay one column. */
  def decodeFeaturesStub(df: DataFrame, idCol: String, blobCol: String,
                         dim: Int = 8, batchSize: Int = 256): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("features", ArrayType(DoubleType, containsNull = false))))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    def fit(xs: Array[Double]): Array[Double] =
      if (xs.length == dim) xs
      else if (xs.length > dim) xs.take(dim)
      else xs ++ Array.fill(dim - xs.length)(0.0)
    df.select(col(idCol).cast(LongType), col(blobCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>   // batch boundary = codec call site
          batch.iterator.map { r =>
            val id = r.getLong(0)
            val bytes = r.getAs[Array[Byte]](1)
            val feats = MediaCodecs.parseWav(bytes).map { w =>
              fit(Array(1.0, w.sampleRate.toDouble, w.channels.toDouble,
                w.durationSec, w.rms, w.peak, w.bitsPerSample.toDouble,
                w.nFrames.toDouble))
            }.orElse(MediaCodecs.parsePpm(bytes).map { p =>
              fit(Array(2.0, p.width.toDouble, p.height.toDouble,
                p.meanR, p.meanG, p.meanB, p.meanLuma, p.maxVal.toDouble))
            }).orElse(MediaCodecs.parsePgm(bytes).map { g =>
              fit(Array(3.0, g.width.toDouble, g.height.toDouble,
                g.mean, g.min.toDouble, g.max.toDouble, g.maxVal.toDouble, 0.0))
            }).orElse(MediaCodecs.parseAu(bytes).map { a =>
              // same slot layout as WAV so rate/dur/rms/peak queries
              // work unchanged across both audio containers
              fit(Array(4.0, a.sampleRate.toDouble, a.channels.toDouble,
                a.durationSec, a.rms, a.peak, 16.0, a.nFrames.toDouble))
            }).orElse(MediaCodecs.parseAiff(bytes).map { a =>
              // third audio container, same slot layout again
              fit(Array(5.0, a.sampleRate.toDouble, a.channels.toDouble,
                a.durationSec, a.rms, a.peak, a.bitsPerSample.toDouble,
                a.nFrames.toDouble))
            }).orElse(MediaCodecs.parsePng(bytes).map { p =>
              // compressed image container, PpmInfo slot layout so
              // width/height/means queries work unchanged
              fit(Array(6.0, p.width.toDouble, p.height.toDouble,
                p.meanR, p.meanG, p.meanB, p.meanLuma, p.bitDepth.toDouble))
            }).getOrElse(Array.tabulate(dim) { i =>
              val lo = i * bytes.length / dim
              val hi = math.max(lo + 1, (i + 1) * bytes.length / dim)
              var s = 0.0
              var j = lo
              while (j < hi) { s += (bytes(j) & 0xff); j += 1 }
              s / (hi - lo)
            })
            Row(id, feats)
          }
        }
      }(encoder)
  }

  /** 64-bit average-hash of 8×8 PPM images (the classic perceptual
    * near-dup signature): bit i is set iff pixel i is above the image
    * mean — computed as the EXACT integer comparison 64·v_i > Σv, so
    * the oracle mirrors it bit-for-bit. Decodes through the real P6
    * parser via the mapPartitions batch seam; rows that are not valid
    * 64-pixel images are dropped (production: resize first — the
    * [[resizeStub]] index math — then hash). */
  def aHash64(df: DataFrame, idCol: String, blobCol: String,
              batchSize: Int = 256): DataFrame = {
    val schema = StructType(Seq(
      StructField(idCol, LongType),
      StructField("ahash", LongType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(schema)
    df.select(col(idCol).cast(LongType), col(blobCol))
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch => // batch boundary = codec call site
          batch.iterator.flatMap { r =>
            MediaCodecs.ppmGrayPixels(r.getAs[Array[Byte]](1))
              .filter(_.length == 64).map { px =>
                var s = 0L
                px.foreach(s += _)
                var h = 0L
                var i = 0
                while (i < 64) {
                  if (64L * px(i) > s) h |= (1L << i)
                  i += 1
                }
                Row(r.getLong(0), h)
              }
          }
        }
      }(encoder)
  }

  /** STUB "resize": nearest-neighbor downsample of the byte raster to
    * `outBytes` samples — out[i] = blob[(i·n) / outBytes] — the image
    * resize plumbing shape (a real deployment swaps the byte pick for
    * a codec resample over the same index math). Pure column
    * expressions in the scan stage: integer index arithmetic + a
    * 1-byte substr per sample, no UDF, no shuffle. */
  def resizeStub(df: DataFrame, idCol: String, blobCol: String,
                 outBytes: Int = 16): DataFrame =
    df.select(col(idCol), octet_length(col(blobCol)).as("_n"), col(blobCol))
      .select(col(idCol), col("_n"), col(blobCol),
        posexplode(sequence(lit(0L), lit(outBytes - 1L))).as(Seq("_p", "i")))
      .select(col(idCol), col("i"),
        ascii(decode(col(blobCol).substr(
            ((col("i") * col("_n")) / outBytes).cast(IntegerType) + 1, lit(1)),
          "UTF-8")).cast(LongType).as("byte_val"))

  /** STUB frame sampling: every `every`-th fixed-size chunk of the
    * payload (video keyframe-sampling shape; one output row per
    * sampled "frame"). Pure column expressions — no UDF. */
  def frameSampleStub(df: DataFrame, idCol: String, blobCol: String,
                      frameBytes: Int = 32, every: Int = 4): DataFrame = {
    val nFrames = floor((octet_length(col(blobCol)) - 1) / frameBytes) + 1
    df.select(col(idCol), col(blobCol), posexplode(
        filter(sequence(lit(0), nFrames.cast(IntegerType) - 1), i => i % every === 0))
        .as(Seq("_i", "frame_no")))
      .select(col(idCol), col("frame_no"),
        col(blobCol).substr(col("frame_no") * frameBytes + 1, lit(frameBytes)).as("frame"))
  }
}
