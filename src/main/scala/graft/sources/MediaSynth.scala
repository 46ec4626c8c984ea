package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.ByteBuffer
import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.TableMemo

/** Deterministic binary media fixtures for the multimodal-column suite:
  * REAL file formats (spec-complete PNGs that `javax.imageio` decodes, and
  * JPEG SOF0 header skeletons), synthesized per row from `doc_id` with
  * closed-form dimensions so the DuckDB oracle can recompute the expected
  * width/height/channels from the `documents` table alone:
  *
  *   width  = 1 + doc_id % 64
  *   height = 1 + (doc_id * 7) % 64
  *   even doc_id -> PNG (RGB8, color type 2), odd -> JPEG (3-component SOF0)
  */
object MediaSynth {

  def width(docId: Long): Int = (1 + docId % 64).toInt
  def height(docId: Long): Int = (1 + (docId * 7) % 64).toInt

  private def chunk(typ: String, body: Array[Byte]): Array[Byte] = {
    val out = ByteBuffer.allocate(12 + body.length)
    out.putInt(body.length)
    val tb = typ.getBytes("ASCII")
    out.put(tb).put(body)
    val crc = new CRC32()
    crc.update(tb); crc.update(body)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  private def deflate(b: Array[Byte]): Array[Byte] = {
    val d = new Deflater()
    d.setInput(b); d.finish()
    val bos = new ByteArrayOutputStream()
    val buf = new Array[Byte](4096)
    while (!d.finished()) bos.write(buf, 0, d.deflate(buf))
    d.end()
    bos.toByteArray
  }

  /** Spec-complete 8-bit RGB PNG: signature, IHDR, IDAT (zlib of
    * filter-0 rows, deterministic pixel bytes), IEND. */
  def png(w: Int, h: Int): Array[Byte] = {
    val ihdr = ByteBuffer.allocate(13)
    ihdr.putInt(w).putInt(h)
    ihdr.put(8.toByte)  // bit depth
    ihdr.put(2.toByte)  // color type 2 = truecolor RGB
    ihdr.put(0.toByte).put(0.toByte).put(0.toByte) // deflate/adaptive/no interlace
    val raw = new Array[Byte](h * (1 + w * 3)) // filter byte 0 + RGB per row
    var i = 0
    while (i < raw.length) { raw(i) = ((i * 31) & 0x7f).toByte; i += 1 }
    var r = 0
    while (r < h) { raw(r * (1 + w * 3)) = 0; r += 1 } // filter type 0
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    out.write(chunk("IHDR", ihdr.array()))
    out.write(chunk("IDAT", deflate(raw)))
    out.write(chunk("IEND", Array.emptyByteArray))
    out.toByteArray
  }

  /** JPEG header skeleton: SOI, APP0/JFIF, SOF0 (baseline) with the real
    * dimensions and 3 components, EOI. No scan data — enough for any
    * header-level metadata extractor (the usual first pass in a media
    * pipeline before full decode). */
  def jpeg(w: Int, h: Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    b(0xff); b(0xd8) // SOI
    // APP0 JFIF (forces the SOF walker to skip a variable segment first)
    b(0xff); b(0xe0); b(0); b(16)
    out.write("JFIF".getBytes("ASCII")); b(0)
    b(1); b(1); b(0); b(0); b(1); b(0); b(1); b(0); b(0)
    // SOF0: len 17, precision 8, height, width, 3 components
    b(0xff); b(0xc0); b(0); b(17); b(8)
    b(h >> 8); b(h & 0xff); b(w >> 8); b(w & 0xff); b(3)
    for (c <- 1 to 3) { b(c); b(0x11); b(0) }
    b(0xff); b(0xd9) // EOI
    out.toByteArray
  }

  /** (doc_id, payload binary) — even doc_id PNG, odd JPEG. Payload built in
    * a deterministic UDF (imperative byte assembly; not a hot analytic
    * path — the decode side is the operator under test). */
  def blobs(spark: SparkSession, sfDir: String): DataFrame = {
    val mk = udf((d: Long) =>
      if (d % 2 == 0) png(width(d), height(d)) else jpeg(width(d), height(d)))
    TableMemo.parquet(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
  }

  // ---- audio (WAV/RIFF) fixtures: closed-form per doc_id ----
  def sampleRate(docId: Long): Int = (8000 * (1 + docId % 3)).toInt
  def nFrames(docId: Long): Int = (1 + docId % 100).toInt
  def chans(docId: Long): Int = (1 + docId % 2).toInt

  /** Spec-complete PCM16 WAV: RIFF/WAVE header, canonical `fmt ` chunk,
    * `data` chunk with deterministic samples. */
  def wav(channels: Int, rate: Int, frames: Int): Array[Byte] = {
    val bits = 16
    val blockAlign = channels * bits / 8
    val dataLen = frames * blockAlign
    val b = ByteBuffer.allocate(44 + dataLen).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("ASCII")).putInt(36 + dataLen).put("WAVE".getBytes("ASCII"))
    b.put("fmt ".getBytes("ASCII")).putInt(16)
    b.putShort(1) // PCM
    b.putShort(channels.toShort).putInt(rate).putInt(rate * blockAlign)
    b.putShort(blockAlign.toShort).putShort(bits.toShort)
    b.put("data".getBytes("ASCII")).putInt(dataLen)
    var i = 0
    while (i < dataLen / 2) { b.putShort(((i * 2654435761L) & 0x7fff).toShort); i += 1 }
    b.array()
  }

  /** (doc_id, payload binary) — one WAV per document. */
  def audioBlobs(spark: SparkSession, sfDir: String): DataFrame = {
    val mk = udf((d: Long) => wav(chans(d), sampleRate(d), nFrames(d)))
    TableMemo.parquet(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
  }

  /** Oracle: expected audio metadata recomputed from documents alone. */
  val audioOracleSql: String =
    """SELECT doc_id, CAST(1 + doc_id % 100 AS BIGINT) AS n_frames,
      | CAST(8000 * (1 + doc_id % 3) AS BIGINT) AS sample_rate,
      | CAST(1 + doc_id % 2 AS BIGINT) AS channels,
      | 'riff' AS kind FROM documents""".stripMargin.replace("\n", " ")

  // ---- video (AVI/RIFF container, MJPEG '00dc' frames): closed-form ----
  def vFrames(docId: Long): Int = (1 + docId % 24).toInt
  def vWidth(docId: Long): Int = (16 + (docId * 3) % 48).toInt
  def vHeight(docId: Long): Int = (16 + (docId * 5) % 48).toInt

  /** RIFF sub-chunk: little-endian size, word-aligned (odd bodies padded). */
  private def riffChunk(id: String, body: Array[Byte]): Array[Byte] = {
    val pad = body.length & 1
    val bb = ByteBuffer.allocate(8 + body.length + pad)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put(id.getBytes("ASCII")).putInt(body.length).put(body)
    bb.array()
  }

  /** RIFF LIST: size covers the 4-byte list type + body. */
  private def riffList(listType: String, body: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("LIST".getBytes("ASCII")).putInt(4 + body.length)
      .put(listType.getBytes("ASCII")).put(body)
    bb.array()
  }

  /** Spec-shaped AVI: RIFF('AVI ') { LIST(hdrl){ avih, LIST(strl){strh 'vids'/
    * 'MJPG', strf BITMAPINFOHEADER} }, LIST(movi){ frames x '00dc'(JPEG) } }.
    * The avih carries the real dwTotalFrames/dwWidth/dwHeight; every frame is
    * a real JPEG SOF0 payload (odd-length, so the walk exercises RIFF word
    * padding). */
  def avi(w: Int, h: Int, frames: Int): Array[Byte] = {
    def le(n: Int, vals: Int*): Array[Byte] = {
      val bb = ByteBuffer.allocate(n).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      vals.foreach(bb.putInt); bb.array()
    }
    val avih = le(56, 33333, 0, 0, 0, frames, 0, 1, 0, w, h, 0, 0, 0, 0)
    val strh = {
      val bb = ByteBuffer.allocate(56).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("vids".getBytes("ASCII")).put("MJPG".getBytes("ASCII"))
      bb.putInt(0).putShort(0).putShort(0).putInt(0)
      bb.putInt(1).putInt(30) // scale/rate = 30 fps
      bb.putInt(0).putInt(frames).putInt(0).putInt(0).putInt(0)
      bb.putShort(0).putShort(0).putShort(w.toShort).putShort(h.toShort)
      bb.array()
    }
    val strf = {
      val bb = ByteBuffer.allocate(40).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.putInt(40).putInt(w).putInt(h).putShort(1).putShort(24)
      bb.put("MJPG".getBytes("ASCII")).putInt(w * h * 3)
      bb.putInt(0).putInt(0).putInt(0).putInt(0)
      bb.array()
    }
    val hdrl = riffList("hdrl",
      riffChunk("avih", avih) ++ riffList("strl", riffChunk("strh", strh) ++ riffChunk("strf", strf)))
    val movi = riffList("movi",
      (0 until frames).toArray.flatMap(_ => riffChunk("00dc", jpeg(w, h))))
    val body = hdrl ++ movi
    val out = ByteBuffer.allocate(12 + body.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("ASCII")).putInt(4 + body.length)
      .put("AVI ".getBytes("ASCII")).put(body)
    out.array()
  }

  /** (doc_id, payload binary) — one MJPEG AVI per document. */
  def videoBlobs(spark: SparkSession, sfDir: String): DataFrame = {
    val mk = udf((d: Long) => avi(vWidth(d), vHeight(d), vFrames(d)))
    TableMemo.parquet(spark, s"$sfDir/documents.parquet")
      .select(col("doc_id"), mk(col("doc_id")).as("payload"))
  }

  /** Oracle: sampled frame rows recomputed from documents alone
    * (generate_series = the every-4th frame index sequence). */
  val videoOracleSql: String =
    """SELECT doc_id, CAST(1 + doc_id % 24 AS BIGINT) AS n_frames,
      | unnest(generate_series(0, CAST(doc_id % 24 AS BIGINT), 4)) AS frame_idx,
      | CAST(16 + (doc_id * 3) % 48 AS BIGINT) AS frame_w,
      | CAST(16 + (doc_id * 5) % 48 AS BIGINT) AS frame_h
      | FROM documents""".stripMargin.replace("\n", " ")

  /** Oracle for the REAL pixel decode: the PNG raw stream is filled with
    * raw(i) = (i*31)&127 and row-start (filter) bytes zeroed, so the decoded
    * pixel-byte sum is sum over ALL stream positions minus the row-start
    * terms — recomputed exactly via generate_series (integer-only math). */
  val pixelOracleSql: String =
    """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS w,
      | CAST(1 + (doc_id * 7) % 64 AS BIGINT) AS h
      | FROM documents WHERE doc_id % 2 = 0),
      | tot AS (SELECT doc_id, SUM((i * 31) & 127) AS s FROM
      |  (SELECT doc_id, unnest(generate_series(0, h * (1 + 3 * w) - 1)) AS i FROM d)
      |  GROUP BY doc_id),
      | fil AS (SELECT doc_id, SUM(((r * (1 + 3 * w)) * 31) & 127) AS f FROM
      |  (SELECT doc_id, w, unnest(generate_series(0, h - 1)) AS r FROM d)
      |  GROUP BY doc_id)
      | SELECT d.doc_id, d.w AS width, d.h AS height,
      |  CAST(tot.s - fil.f AS BIGINT) AS pixel_sum,
      |  CAST(d.h * d.w * 3 AS BIGINT) AS pixel_count
      | FROM d JOIN tot USING (doc_id) JOIN fil USING (doc_id)""".stripMargin.replace("\n", " ")

  /** Oracle for nearest-neighbor resize: thumb sample (tx,ty,c) reads
    * source pixel (tx*w/8, ty*h/8) — raw-stream index
    * sy*(1+3w) + 1 + 3*sx + c, value ((idx*31)&127); t enumerates
    * (ty,tx,c) as t = (ty*8+tx)*3 + c. Same integer floor division both
    * engines. */
  /** Oracle for the 8x8-thumb average hash: same per-sample value formula
    * as [[thumbOracleSql]], grays grouped per cell j = t // 3, bit j set
    * iff 64 * gray_j > total gray (the exact integer compare the codec
    * runs — see PngCodec.aHash). */
  val ahashOracleSql: String =
    """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS w,
      | CAST(1 + (doc_id * 7) % 64 AS BIGINT) AS h
      | FROM documents WHERE doc_id % 2 = 0),
      | px AS (SELECT doc_id, w, h, unnest(generate_series(0, 191)) AS t FROM d),
      | gray AS (SELECT doc_id, t // 3 AS j,
      |  SUM(((((t // 24) * h // 8) * (1 + 3 * w)
      |    + 1 + 3 * (((t // 3) % 8) * w // 8) + t % 3) * 31) & 127) AS g
      |  FROM px GROUP BY 1, 2),
      | tot AS (SELECT doc_id, SUM(g) AS tg FROM gray GROUP BY 1)
      | SELECT g.doc_id,
      |  CAST(SUM(CASE WHEN 64 * g.g <= t.tg THEN 0
      |    WHEN g.j = 63 THEN -9223372036854775808
      |    ELSE (CAST(1 AS BIGINT) << CAST(g.j AS INTEGER)) END) AS BIGINT) AS ahash
      | FROM gray g JOIN tot t USING (doc_id) GROUP BY 1""".stripMargin.replace("\n", " ")

  val thumbOracleSql: String =
    """WITH d AS (SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS w,
      | CAST(1 + (doc_id * 7) % 64 AS BIGINT) AS h
      | FROM documents WHERE doc_id % 2 = 0),
      | px AS (SELECT doc_id, w, h, unnest(generate_series(0, 191)) AS t FROM d)
      | SELECT doc_id,
      |  CAST(SUM(((((t // 24) * h // 8) * (1 + 3 * w)
      |    + 1 + 3 * (((t // 3) % 8) * w // 8) + t % 3) * 31) & 127) AS BIGINT) AS thumb_sum,
      |  CAST(8 AS BIGINT) AS thumb_w, CAST(8 AS BIGINT) AS thumb_h
      | FROM px GROUP BY doc_id""".stripMargin.replace("\n", " ")

  /** Oracle: expected dims recomputed from documents alone. */
  val oracleSql: String =
    """SELECT doc_id, CAST(1 + doc_id % 64 AS BIGINT) AS width,
      | CAST(1 + (doc_id * 7) % 64 AS BIGINT) AS height,
      | CAST(3 AS BIGINT) AS channels,
      | CASE WHEN doc_id % 2 = 0 THEN 'png' ELSE 'jpeg' END AS kind
      | FROM documents""".stripMargin.replace("\n", " ")
}
