package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import graft.util.Tables

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, and run decode / feature-extract
  * steps as partition-local batch functions.
  *
  * The actual codecs are NOT available in this environment, so the decode
  * is a clearly-marked deterministic fake ([[fakeDecode]]); everything
  * around it — schema, binary column handling, partitioning, the
  * `mapPartitions` batch shape — is real and tested. Swapping in a real
  * decoder is a one-function change.
  *
  * Scale notes: payloads ride through the plan as `BinaryType` (never
  * stringified); per-partition processing batches rows so a real decoder
  * could amortize codec init; metadata-only queries never touch the
  * payload bytes thanks to parquet column pruning.
  */
object Multimodal {

  /** A decoded-media feature row (what a real image decoder would emit). */
  final case class MediaFeatures(
      doc_id: Long,
      byte_len: Long,
      format: String,
      width: Int,
      height: Int,
      checksum: String,
      thumb_len: Long,
      thumb_checksum: String)

  /** Synthesize a binary "media" column from the documents table — the
    * harness ships no binary payloads, so the text bytes stand in as the
    * opaque blob. */
  def mediaTable(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        col("source"), col("n_chars"))

  /** Metadata extraction as pure column ops over the binary payload:
    * length, content hash, fake container sniff + dimensions derived
    * deterministically from metadata (NOT a real decode — see header). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir)
      .select(col("doc_id"),
        octet_length(col("payload")).cast("long").as("byte_len"),
        sha2(col("payload"), 256).as("checksum"),
        upper(hex(substring(col("payload"), 1, 4))).as("magic"),
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("n_chars") % 480 + 1).cast("int").as("height"))
      .orderBy(col("doc_id"))

  /** STUB decode: a real implementation would hand `payload` to an image
    * codec here. This deterministic fake derives "dimensions" from the
    * byte length so downstream plumbing is exercised honestly. */
  def fakeDecode(docId: Long, payload: Array[Byte]): MediaFeatures = {
    def sha(bytes: Array[Byte]): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(bytes).map("%02x".format(_)).mkString
    val len = payload.length.toLong
    // "resize": deterministic 8x byte downsample standing in for a real
    // thumbnail pass — keeps every 8th byte (group heads)
    val thumb = payload.grouped(8).map(_.head).toArray
    MediaFeatures(
      doc_id = docId,
      byte_len = len,
      format = if (len % 2 == 0) "png" else "jpg",
      width = (len % 640).toInt + 1,
      height = (len % 480).toInt + 1,
      checksum = sha(payload),
      thumb_len = thumb.length.toLong,
      thumb_checksum = sha(thumb))
  }

  /** The batch decode operator: partition-local iteration over binary
    * payloads (the Scala analogue of a pandas `mapInPandas` decode UDF).
    * Rows are processed per partition so a real codec would be
    * initialized once per partition, not per row. */
  def decodeFeatures(spark: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import spark.implicits._
    mediaTable(spark, dir)
      .select(col("doc_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real impl: val codec = Codec.acquire() once per partition
        rows.map { case (id, bytes) => fakeDecode(id, bytes) }
      }
  }

  // ---------------------------------------------------------------------
  // Real image decode: uncompressed 24bpp BMP as pure column algebra.
  //
  // The container ships no image libraries, but BMP needs none: the
  // format is a 54-byte little-endian header plus raw BGR rows stored
  // BOTTOM-UP with each row padded to a 4-byte boundary. Both the
  // encoder and the decoder below are Catalyst column expressions end
  // to end (hex assembly -> unhex on the way in; substring/conv header
  // parse + explode pixel walk on the way out), so the whole path is
  // codegen'd and distributed — no UDF, no driver loop. fakeDecode
  // above stays as the mapPartitions codec-boundary example for formats
  // that genuinely need a native library.
  // ---------------------------------------------------------------------

  import org.apache.spark.sql.Column

  /** lpad(hex(x & 255)) — one byte as two hex chars. */
  private def hexByte(x: Column): Column =
    lpad(hex(x.bitwiseAND(lit(255L))), 2, "0")

  /** Little-endian u32 as eight hex chars. */
  private def hexLe32(x: Column): Column =
    concat(hexByte(x), hexByte(shiftright(x, 8)),
      hexByte(shiftright(x, 16)), hexByte(shiftright(x, 24)))

  /** Deterministic per-doc pixel channels — the generative formulas the
    * oracle replays closed-form (everything mod 256, non-negative). */
  private def chanR(id: Column, x: Column, y: Column): Column =
    (id + x * 7 + y * 13) % 256
  private def chanG(id: Column, x: Column, y: Column): Column =
    (id * 2 + x * 5 + y * 11) % 256
  private def chanB(id: Column, x: Column, y: Column): Column =
    (id * 3 + x * 3 + y * 17) % 256

  /** Synthesize a REAL 24bpp BMP file per document: magic "BM", file
    * header, BITMAPINFOHEADER, then bottom-up BGR pixel rows padded to
    * 4 bytes — byte-identical to what an image library would write
    * (BmpSpec round-trips these through javax.imageio). Width 1..16 and
    * height 1..12 vary per doc so every row-padding case (3w mod 4 =
    * 0..3) occurs in the corpus. */
  def bmpTable(spark: SparkSession, dir: String, maxDocId: Long = 2000): DataFrame = {
    val id = col("doc_id")
    val w = (id % 16 + 1).cast("long")
    val h = (id % 12 + 1).cast("long")
    val stride = shiftleft(shiftright(w * 3 + 3, 2), 2) // row pad to 4B
    // stored row j holds image row y = h-1-j (bottom-up)
    val rowHex = (j: Column) => concat(
      array_join(transform(sequence(lit(0L), w - 1), x =>
        concat(hexByte(chanB(id, x, h - 1 - j)),
          hexByte(chanG(id, x, h - 1 - j)),
          hexByte(chanR(id, x, h - 1 - j)))), ""),
      lit("000000").substr(lit(1), ((stride - w * 3) * 2).cast("int")))
    val pixelHex = array_join(transform(sequence(lit(0L), h - 1), rowHex), "")
    val imageSize = stride * h
    Tables.documents(spark, dir)
      .filter(id < maxDocId)
      .select(id.as("doc_id"),
        unhex(concat_ws("",
          lit("424D"), hexLe32(imageSize + 54), lit("00000000"), hexLe32(lit(54L)),
          hexLe32(lit(40L)), hexLe32(w), hexLe32(h), lit("0100"), lit("1800"),
          hexLe32(lit(0L)), hexLe32(imageSize), hexLe32(lit(2835L)),
          hexLe32(lit(2835L)), hexLe32(lit(0L)), hexLe32(lit(0L)),
          pixelHex)).as("payload"))
  }

  /** byte i (0-based) of a binary column as a long — the native
    * [[graft.functions.ByteAt]] expression (codegen'd array load; the
    * conv∘hex∘substr spelling allocates two strings per byte, which a
    * corpus-scale decode pass cannot afford). Resolves through the
    * function registry; [[graft.GraftExtensions.install]] must have
    * run on the session (the decode entry points do so). */
  private def byteAt(p: Column, i: Column): Column =
    call_function("byte_at", p, i.cast("long"))

  private def le32(p: Column, off: Int): Column =
    byteAt(p, lit(off.toLong)) + byteAt(p, lit(off + 1L)) * 256L +
      byteAt(p, lit(off + 2L)) * 65536L + byteAt(p, lit(off + 3L)) * 16777216L

  /** Decode REAL BMP payloads with column algebra: parse the header
    * (magic, pixel-array offset, width, height, bpp), then explode one
    * row per pixel and index into the payload honoring the 4-byte row
    * stride and the bottom-up row order. Integer-exact features: channel
    * sums plus a position-weighted sum (weight 1 + y·w + x, in IMAGE
    * coordinates) that any mistake in stride, padding, or the bottom-up
    * mapping shifts — the oracle recomputes all of them closed-form from
    * the generator formulas without ever touching bytes.
    *
    * Scale shape: one narrow explode (≤ w·h rows per image) feeding a
    * map-side-combinable groupBy on doc_id; header fields are plain
    * projections. Heights here are positive (bottom-up) 24bpp BI_RGB —
    * the filter asserts exactly that contract rather than nulling. */
  /** Header parse + per-pixel explode shared by [[bmpDecode]] and
    * [[bmpThumb]]: (doc_id, width, height, x, y, r, g, b) in IMAGE
    * coordinates, honoring the 4-byte row stride and bottom-up rows. */
  private def bmpPixels(media: DataFrame): DataFrame = {
    graft.GraftExtensions.install(media.sparkSession)
    val p = col("payload")
    val withHdr = media
      .withColumn("magic", hex(substring(p, 1, 2)))
      .withColumn("pix_off", le32(p, 10))
      .withColumn("width", le32(p, 18))
      .withColumn("height", le32(p, 22))
      .withColumn("bpp", byteAt(p, lit(28L)) + byteAt(p, lit(29L)) * 256L)
      .filter(col("magic") === "424D" && col("bpp") === 24L)
      .withColumn("stride", shiftleft(shiftright(col("width") * 3 + 3, 2), 2))
    withHdr
      .select(col("doc_id"), p, col("pix_off"), col("width"), col("height"),
        col("stride"),
        explode(sequence(lit(0L), col("width") * col("height") - 1)).as("k"))
      .withColumn("x", col("k") % col("width"))
      // long/long is a DOUBLE divide in Spark — floor back to the exact
      // integer row index (k < 192, so the double is exact)
      .withColumn("y", floor(col("k") / col("width")).cast("long"))
      .withColumn("idx", // stored bottom-up: row j = h-1-y
        col("pix_off") + (col("height") - 1 - col("y")) * col("stride") +
          col("x") * 3)
      .select(col("doc_id"), col("width"), col("height"), col("x"), col("y"),
        byteAt(col("payload"), col("idx")).as("b"),
        byteAt(col("payload"), col("idx") + 1).as("g"),
        byteAt(col("payload"), col("idx") + 2).as("r"))
  }

  def bmpDecode(media: DataFrame): DataFrame =
    bmpPixels(media)
      .select(col("doc_id"), col("width"), col("height"),
        (col("y") * col("width") + col("x") + 1).as("wgt"),
        col("b"), col("g"), col("r"))
      .groupBy(col("doc_id"))
      .agg(max(col("width")).as("width"), max(col("height")).as("height"),
        count(lit(1)).as("n_px"),
        sum(col("r")).as("sum_r"), sum(col("g")).as("sum_g"),
        sum(col("b")).as("sum_b"),
        sum(col("wgt") * col("r")).as("wsum_r"))
      .orderBy(col("doc_id"))

  /** The gated encode→decode roundtrip (q_bmp_decode). Sliced to
    * doc_id < 2000 like q_holt: replica key offsets put ScaleUp copies
    * outside the slice, so the gate stays fixed-cost at every SF — the
    * decode itself is linear per image and embarrassingly parallel.
    *
    * The encode materializes once (lazy localCheckpoint) before the
    * decode: composed in ONE plan, CollapseProject would inline the
    * whole encode expression into the decoder's contract filter and
    * recompute it 4x per row (and blow the codegen method limit);
    * behind the barrier the decoder sees `payload` as a plain binary
    * attribute — exactly what it sees over a stored column in
    * production. Same pattern as knnGraph's signature pass. */
  def bmpDecodeFeatures(spark: SparkSession, dir: String): DataFrame =
    bmpDecode(bmpTable(spark, dir).localCheckpoint(eager = false))

  /** 2×2 box-filter downsample (the thumbnail pass of an image
    * pipeline) in pure column algebra: pixels bucket into
    * (⌊x/2⌋, ⌊y/2⌋) cells, each cell averages its 1–4 members with
    * integer floor division (edge cells at odd widths/heights keep
    * their true member count — the off-by-one every resize bug lives
    * in), and the gate aggregates the thumbnail back to per-doc
    * features including a cell-position-weighted sum that any cell
    * mis-assignment shifts. The oracle replays the whole thing
    * closed-form from the generator formulas — no byte work.
    *
    * Scale shape: the same one-explode decode as [[bmpDecode]], one
    * extra map-side-combinable (doc, cell) aggregate before the per-doc
    * rollup; all integer, all codegen. */
  def bmpThumb(spark: SparkSession, dir: String): DataFrame = {
    val cells = bmpPixels(bmpTable(spark, dir).localCheckpoint(eager = false))
      .withColumn("cx", floor(col("x") / 2).cast("long"))
      .withColumn("cy", floor(col("y") / 2).cast("long"))
      .groupBy(col("doc_id"), col("cy"), col("cx"))
      .agg(max(col("width")).as("w"), max(col("height")).as("h"),
        expr("sum(r) div count(1)").as("ar"),
        expr("sum(g) div count(1)").as("ag"),
        expr("sum(b) div count(1)").as("ab"))
    cells.groupBy(col("doc_id"))
      .agg(max(expr("(w + 1) div 2")).as("out_w"),
        max(expr("(h + 1) div 2")).as("out_h"),
        count(lit(1)).as("n_cells"),
        sum(col("ar")).as("tsum_r"),
        sum(col("ag")).as("tsum_g"),
        sum(col("ab")).as("tsum_b"),
        sum((col("cy") * expr("(w + 1) div 2") + col("cx") + 1) * col("ar"))
          .as("twsum_r"))
      .orderBy(col("doc_id"))
  }

  // ---------------------------------------------------------------------
  // Real audio decode: PCM16 WAV (RIFF) as pure column algebra — same
  // pattern as BMP: canonical 44-byte header + little-endian SIGNED
  // 16-bit samples, encoded and parsed entirely with Catalyst
  // expressions. WavSpec cross-checks against javax.sound.sampled.
  // ---------------------------------------------------------------------

  private def hexLe16(x: Column): Column =
    concat(hexByte(x), hexByte(shiftright(x, 8)))

  /** Deterministic per-doc sample i — signed, range [-1024, 1023]. */
  private def sampleAt(id: Column, i: Column): Column =
    (id * 31 + i * 97) % 2048 - 1024

  /** Synthesize a canonical mono PCM16 8 kHz WAV per document:
    * RIFF/WAVE + "fmt " (PCM, 1 ch, 16-bit) + "data" with
    * doc_id%64+16 samples. Negative samples are stored two's-complement
    * via pmod(s, 65536) — byte-identical to a real writer's output. */
  def wavTable(spark: SparkSession, dir: String, maxDocId: Long = 2000): DataFrame = {
    val id = col("doc_id")
    val n = (id % 64 + 16).cast("long")
    val dataSize = n * 2
    val sampleHex = array_join(transform(sequence(lit(0L), n - 1), i =>
      hexLe16(pmod(sampleAt(id, i), lit(65536L)))), "")
    Tables.documents(spark, dir)
      .filter(id < maxDocId)
      .select(id.as("doc_id"),
        unhex(concat_ws("",
          lit("52494646"), hexLe32(dataSize + 36), lit("57415645"), // RIFF..WAVE
          lit("666D7420"), hexLe32(lit(16L)), lit("0100"), lit("0100"), // fmt, PCM, mono
          hexLe32(lit(8000L)), hexLe32(lit(16000L)), lit("0200"), lit("1000"),
          lit("64617461"), hexLe32(dataSize), // data chunk
          sampleHex)).as("payload"))
  }

  /** Decode PCM16 WAV with column algebra: verify the RIFF/WAVE/fmt
    * contract, read sample rate and data size from the header, then
    * explode one row per sample and reassemble the SIGNED little-endian
    * value (two's complement: v ≥ 2¹⁵ ⇒ v − 2¹⁶). Integer-exact
    * features — sum, |sum|, max |s|, Σs² — that the oracle recomputes
    * closed-form from the generator formula. Same scale shape as
    * [[bmpDecode]]: narrow explode, map-side-combinable groupBy. */
  /** Header contract + per-sample explode shared by [[wavDecode]] and
    * [[wavFrames]]: (doc_id, sample_rate, i, s) with signed PCM16
    * reconstruction. */
  private def wavSamples(media: DataFrame): DataFrame = {
    graft.GraftExtensions.install(media.sparkSession)
    val p = col("payload")
    media
      .withColumn("riff", hex(p.substr(1, 4)))
      .withColumn("wave", hex(p.substr(9, 4)))
      .withColumn("fmt", byteAt(p, lit(20L)) + byteAt(p, lit(21L)) * 256L)
      .withColumn("channels", byteAt(p, lit(22L)) + byteAt(p, lit(23L)) * 256L)
      .withColumn("sample_rate", le32(p, 24))
      .withColumn("bits", byteAt(p, lit(34L)) + byteAt(p, lit(35L)) * 256L)
      .withColumn("data_size", le32(p, 40))
      .filter(col("riff") === "52494646" && col("wave") === "57415645" &&
        col("fmt") === 1L && col("bits") === 16L && col("channels") === 1L)
      .select(col("doc_id"), p, col("sample_rate"),
        explode(sequence(lit(0L), shiftright(col("data_size"), 1) - 1)).as("i"))
      .withColumn("vu",
        byteAt(p, lit(44L) + col("i") * 2) +
          byteAt(p, lit(45L) + col("i") * 2) * 256L)
      .withColumn("s", when(col("vu") >= 32768L, col("vu") - 65536L)
        .otherwise(col("vu")))
  }

  def wavDecode(media: DataFrame): DataFrame =
    wavSamples(media)
      .groupBy(col("doc_id"))
      .agg(max(col("sample_rate")).as("sample_rate"),
        count(lit(1)).as("n_samples"),
        sum(col("s")).as("sum_s"), sum(abs(col("s"))).as("sum_abs"),
        max(abs(col("s"))).as("max_abs"),
        sum(col("s") * col("s")).as("sum_sq"))
      .orderBy(col("doc_id"))

  /** The gated WAV roundtrip (q_wav_decode) — see [[bmpDecodeFeatures]]
    * for the doc_id slice rationale and the encode barrier. */
  def wavDecodeFeatures(spark: SparkSession, dir: String): DataFrame =
    wavDecode(wavTable(spark, dir).localCheckpoint(eager = false))

  /** Frame-level energy analysis (the audio face of frame sampling /
    * the VAD primitive): samples bucket into fixed 20-sample frames,
    * each frame gets its integer energy Σs² and peak |s|, and the gate
    * reports per-doc frame count, total energy, and the LOUDEST frame —
    * argmax as max(struct(energy, −frame, peak)), never a rank window,
    * with lowest-frame tiebreak. This is the selection pass a speech
    * pipeline runs before expensive transcription: at 100 TB you decode
    * once, keep per-frame integers, and ship only the frames that beat
    * the energy gate. Same scale shape as the decode: one explode, two
    * map-side-combinable aggregates. */
  def wavFrames(spark: SparkSession, dir: String): DataFrame = {
    val fr = wavSamples(wavTable(spark, dir).localCheckpoint(eager = false))
      .withColumn("frame", floor(col("i") / 20).cast("long"))
      .groupBy(col("doc_id"), col("frame"))
      .agg(sum(col("s") * col("s")).as("e"), max(abs(col("s"))).as("peak"))
    fr.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_frames"),
        sum(col("e")).as("sum_energy"),
        max(struct(col("e"), (-col("frame")).as("nf"), col("peak"))).as("top"))
      .select(col("doc_id"), col("n_frames"), col("sum_energy"),
        (-col("top.nf")).as("top_frame"), col("top.e").as("top_energy"),
        col("top.peak").as("top_peak"))
      .orderBy(col("doc_id"))
  }

  /** Perceptual image hash (dHash) + near-dup census, gated as
    * q_image_phash: the image-side twin of SimHash text dedup. Each
    * decoded BMP downsamples to a `grid`×`grid` integer-luma thumbnail
    * (area mapping `cell = ⌊p·grid/dim⌋`, BT.601 luma
    * `(299r+587g+114b) div 1000`, floor-division means — all integer,
    * so the hash is bit-reproducible across engines and partitionings),
    * and the hash packs the 2·grid·(grid−1) horizontal+vertical
    * brightness-gradient sign bits into one BIGINT. Images smaller than
    * the grid on either axis are excluded by contract (an empty cell
    * has no defined gradient); a production pipeline routes those to a
    * smaller grid.
    *
    * Scale shape: the same one-explode decode as [[bmpDecode]], one
    * (doc, cell) aggregate, then a 16-element collect per doc (fixed
    * size, NOT data-bounded) unrolled into the 24-bit pack — and the
    * near-dup census is one window count over the hash, i.e. exact-dup
    * grouping in hash space exactly like q_dedup_exact. The oracle
    * replays everything closed-form from the pixel generator.
    *
    * Cited shape: /root/reference/visualization/app.py serves coin logo
    * assets verbatim; a crawl-scale image corpus dedups them first. */
  def imagePhash(spark: SparkSession, dir: String, grid: Int = 4): DataFrame = {
    val g = grid
    val cells = bmpPixels(bmpTable(spark, dir).localCheckpoint(eager = false))
      .filter(col("width") >= g && col("height") >= g)
      .withColumn("ci", floor(col("x") * g / col("width")).cast("long"))
      .withColumn("cj", floor(col("y") * g / col("height")).cast("long"))
      .withColumn("gray", expr("(r * 299 + g * 587 + b * 114) div 1000"))
      .groupBy(col("doc_id"), col("cj"), col("ci"))
      .agg(max(col("width")).as("w"), max(col("height")).as("h"),
        expr("sum(gray) div count(1)").as("cg"))
    val packed = cells.groupBy(col("doc_id"))
      .agg(max(col("w")).as("width"), max(col("h")).as("height"),
        array_sort(collect_list(struct(col("cj"), col("ci"), col("cg"))))
          .as("t")) // g*g fixed-size, row-major (cj, ci)
    def at(i: Int, j: Int): Column =
      element_at(col("t"), i * g + j + 1).getField("cg")
    val hBits = for { i <- 0 until g; j <- 0 until g - 1 }
      yield (at(i, j) > at(i, j + 1), i * (g - 1) + j)
    val vBits = for { i <- 0 until g - 1; j <- 0 until g }
      yield (at(i, j) > at(i + 1, j), g * (g - 1) + i * g + j)
    val phash = (hBits ++ vBits)
      .map { case (b, k) => when(b, lit(1L << k)).otherwise(lit(0L)) }
      .reduce(_ + _)
    packed
      .select(col("doc_id"), col("width"), col("height"), phash.as("phash"))
      .withColumn("bucket_size",
        count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy(col("phash"))))
      .orderBy(col("doc_id"))
  }

  /** Generated oracle for [[imagePhash]]: the 24 gradient-sign terms
    * are emitted from the SAME index loops as the Spark pack, over a
    * closed-form cell table replayed from the pixel generator. */
  def imagePhashSql(grid: Int = 4): String = {
    val g = grid
    def cg(i: Int, j: Int) = s"max(CASE WHEN cj = $i AND ci = $j THEN cg END)"
    val hBits = for { i <- 0 until g; j <- 0 until g - 1 }
      yield (cg(i, j), cg(i, j + 1), i * (g - 1) + j)
    val vBits = for { i <- 0 until g - 1; j <- 0 until g }
      yield (cg(i, j), cg(i + 1, j), g * (g - 1) + i * g + j)
    val terms = (hBits ++ vBits).map { case (a, b, k) =>
      s"(CASE WHEN $a > $b THEN ${1L << k} ELSE 0 END)"
    }.mkString("\n      + ")
    s"""WITH px AS (
       |  SELECT d.doc_id,
       |    (d.doc_id % 16 + 1) AS w, (d.doc_id % 12 + 1) AS h,
       |    (x.x * $g) // (d.doc_id % 16 + 1) AS ci,
       |    (y.y * $g) // (d.doc_id % 12 + 1) AS cj,
       |    ((d.doc_id + x.x * 7 + y.y * 13) % 256 * 299
       |     + (d.doc_id * 2 + x.x * 5 + y.y * 11) % 256 * 587
       |     + (d.doc_id * 3 + x.x * 3 + y.y * 17) % 256 * 114) // 1000
       |      AS gray
       |  FROM documents d
       |  CROSS JOIN (SELECT unnest(range(0, 16)) AS x) x
       |  CROSS JOIN (SELECT unnest(range(0, 12)) AS y) y
       |  WHERE d.doc_id < 2000
       |    AND d.doc_id % 16 + 1 >= $g AND d.doc_id % 12 + 1 >= $g
       |    AND x.x < d.doc_id % 16 + 1 AND y.y < d.doc_id % 12 + 1),
       |cells AS (
       |  SELECT doc_id, cj, ci, max(w) AS w, max(h) AS h,
       |    sum(gray) // count(*) AS cg
       |  FROM px GROUP BY doc_id, cj, ci),
       |hashes AS (
       |  SELECT doc_id, CAST(max(w) AS BIGINT) AS width,
       |    CAST(max(h) AS BIGINT) AS height,
       |    CAST($terms AS BIGINT) AS phash
       |  FROM cells GROUP BY doc_id)
       |SELECT doc_id, width, height, phash,
       |  count(*) OVER (PARTITION BY phash) AS bucket_size
       |FROM hashes ORDER BY doc_id""".stripMargin
  }

  /** Frame sampling shape: every k-th fixed-size byte window of the
    * payload becomes a "frame" row — the video-frame-extraction dataflow
    * (explode on a computed offset sequence; payload stays binary). */
  def frameSample(spark: SparkSession, dir: String, frameBytes: Int = 64,
      stride: Int = 128): DataFrame =
    mediaTable(spark, dir)
      .withColumn("n_frames",
        greatest(lit(1), (octet_length(col("payload")) / stride).cast("int")))
      .select(col("doc_id"),
        posexplode(transform(sequence(lit(0), col("n_frames") - 1),
          i => col("payload").substr(i * stride + 1, lit(frameBytes))))
          .as(Seq("frame_idx", "frame_bytes")))
}
