package graft.multimodal

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video payloads as opaque
  * `binary` columns with a typed metadata struct.
  *
  * No codec decodes a payload: the container type comes from its magic
  * bytes and image dimensions from its container headers, so the
  * metadata is real without an image/audio codec.
  */
object BinaryOps {

  /** Container sniffing from magic bytes — real logic, no codec needed. */
  def sniffMagic(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 4) return "unknown"
    def b(i: Int) = bytes(i) & 0xff
    if (b(0) == 0xff && b(1) == 0xd8 && b(2) == 0xff) "jpeg"
    else if (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G') "png"
    else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F') "riff" // wav/webp/avi
    else if (b(0) == 'I' && b(1) == 'D' && b(2) == '3') "mp3"
    else if (bytes.length >= 12 && b(4) == 'f' && b(5) == 't' && b(6) == 'y' && b(7) == 'p') "mp4"
    else if (b(0) == '<') "html"
    else "unknown"
  }

  /** Image dimensions from CONTAINER HEADERS — pure parsing, no codec
    * (PNG IHDR, JPEG SOF marker walk, GIF logical screen, BMP info
    * header); None when the format is unknown or the header is
    * malformed/truncated. Fills the metadata width/height slots the
    * GPU decode would otherwise provide.
    */
  def imageDimensions(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes == null || bytes.length < 10) return None
    def b(i: Int) = bytes(i) & 0xff
    def be16(i: Int) = (b(i) << 8) | b(i + 1)
    def be32(i: Int) = (b(i) << 24) | (b(i + 1) << 16) | (b(i + 2) << 8) | b(i + 3)
    def le16(i: Int) = b(i) | (b(i + 1) << 8)
    def le32(i: Int) = b(i) | (b(i + 1) << 8) | (b(i + 2) << 16) | (b(i + 3) << 24)
    try {
      if (b(0) == 0x89 && b(1) == 'P' && b(2) == 'N' && b(3) == 'G' && bytes.length >= 24)
        Some((be32(16), be32(20)))
      else if (b(0) == 0xff && b(1) == 0xd8) {
        // JPEG: walk segments to a start-of-frame marker. Markers may
        // be preceded by any number of 0xFF FILL bytes (real encoders
        // emit them) — skip the run before reading the marker id.
        var i = 2
        while (i + 9 < bytes.length) {
          if (b(i) != 0xff) return None
          while (i + 9 < bytes.length && b(i + 1) == 0xff) i += 1
          val marker = b(i + 1)
          if (marker >= 0xc0 && marker <= 0xcf && marker != 0xc4 && marker != 0xc8 && marker != 0xcc)
            return Some((be16(i + 7), be16(i + 5))) // SOF: height then width
          if (marker == 0xd8 || (marker >= 0xd0 && marker <= 0xd9)) i += 2 // standalone
          else i += 2 + be16(i + 2)
        }
        None
      }
      else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') Some((le16(6), le16(8)))
      else if (b(0) == 'R' && b(1) == 'I' && b(2) == 'F' && b(3) == 'F' &&
          bytes.length >= 30 && b(8) == 'W' && b(9) == 'E' && b(10) == 'B' && b(11) == 'P') {
        // WebP: VP8X extended header carries the canvas size as
        // 24-bit LE minus-one values; simple VP8 keyframes carry
        // 14-bit dims after the 3-byte frame tag + start code
        if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == 'X')
          Some((1 + (b(24) | (b(25) << 8) | (b(26) << 16)),
            1 + (b(27) | (b(28) << 8) | (b(29) << 16))))
        else if (b(12) == 'V' && b(13) == 'P' && b(14) == '8' && b(15) == ' ' &&
            b(23) == 0x9d && b(24) == 0x01 && b(25) == 0x2a)
          Some((le16(26) & 0x3fff, le16(28) & 0x3fff))
        else None
      }
      else if (b(0) == 'B' && b(1) == 'M' && bytes.length >= 26 &&
          Set(40, 52, 56, 108, 124).contains(le32(14)))
        // require an exact BITMAPINFOHEADER-family size field: the
        // 2-byte 'BM' prefix alone matches arbitrary text payloads
        // (any >= comparison still passes on ASCII), and the 12-byte
        // BITMAPCOREHEADER stores 16-bit dims at different offsets —
        // both must yield None, not garbage
        Some((le32(18), math.abs(le32(22)))) // height may be negative (top-down)
      else None
    } catch { case _: IndexOutOfBoundsException => None }
  }

  /** Attach metadata struct to a binary column — sha256/length via native
    * Catalyst expressions (codegen'd), magic sniffing via a tiny UDF.
    */
  def withMediaMeta(df: DataFrame, binCol: String = "payload"): DataFrame = {
    val magicUdf = udf((b: Array[Byte]) => sniffMagic(b))
    // nondeterministic: parse headers once per row (both struct fields
    // reference the same call)
    val dimsUdf = udf((b: Array[Byte]) => imageDimensions(b)).asNondeterministic()
    df.withColumn("_dims", dimsUdf(col(binCol)))
      .withColumn("meta", struct(
        length(col(binCol)).cast("long").as("byte_length"),
        sha2(col(binCol), 256).as("sha256"),
        magicUdf(col(binCol)).as("magic"),
        col("_dims._1").as("width"),   // header-parsed; null for non-image payloads
        col("_dims._2").as("height")
      )).drop("_dims")
  }
}
