package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** One media item: opaque binary payload + typed metadata.
  * At 100 TB this is the row shape of a multimodal lakehouse table —
  * payloads inline up to ~1 MB, larger ones as object-store pointers
  * (the `uri` field), partitioned by ingest date and bucketed by id.
  */
case class MediaItem(
    doc_id: Long,
    payload: Array[Byte],
    uri: String,
    fmt: String,
    width: Int,
    height: Int)

case class MediaFeatures(
    doc_id: Long,
    n_bytes: Long,
    mean_byte: Double,
    nonzero_ratio: Double,
    feat: Array[Double])

/** Multimodal column pipeline (SURVEY.md §2.G).
  *
  * The decode step is REAL: G1/G3 payloads are RIFF/WAVE PCM16
  * containers and G2 payloads binary PGM images, parsed by the
  * pure-JVM [[Codecs]] (header walk, chunk scan, sign-extension — no
  * native libs). The synthetic corpus encodes each document's bytes as
  * the samples/pixels, so decoded values equal `ascii(char)` and the
  * documents-table DuckDB oracles replay the decode bit-for-bit — a
  * mis-parsed header breaks the hash gate. The per-partition batch
  * iteration (the Scala analog of a Pandas-UDF `mapInPandas` batch),
  * the pointer-fetch stage, and the downstream aggregation are the
  * same plumbing a heavier codec (JPEG, Opus) would drop into behind
  * [[Multimodal.MediaDecoder]].
  */
object Multimodal {

  /** Synthesize the media table from documents: utf-8 payload stands in
    * for an encoded image; metadata is derived deterministically.
    *
    * ASCII contract: the `mm_integrity` and `mm_audio_windows` oracles
    * walk the payload CHARACTER-wise in DuckDB while Spark checksums
    * UTF-8 BYTES, so their parity (checksum, n_bytes, width-vs-length
    * metadata) holds only when every char is single-byte. The synthetic
    * corpus satisfies this and `MultimodalSpec` pins it (payload byte
    * length == n_chars for every document); a real multi-byte corpus
    * would need byte-wise oracles instead.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        encode(col("text"), "UTF-8").as("payload"),
        concat(lit("synthetic://doc/"), col("doc_id")).as("uri"),
        lit("fake/raw").as("fmt"),
        (pmod(col("n_chars"), lit(64)) + 1).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) + 1).cast("int").as("height"))
      .as[MediaItem]
  }

  /** The WAV media table: each document's bytes become PCM16 samples
    * inside a real RIFF/WAVE container (44-byte header + chunk
    * structure). Sample k == ascii(char k) on this single-byte corpus,
    * so the decode loop is oracle-replayable from `documents` alone.
    */
  def wavTable(spark: SparkSession, dir: String): Dataset[MediaItem] = {
    import spark.implicits._
    mediaTable(spark, dir).map { m =>
      val samples = new Array[Int](m.payload.length)
      var i = 0
      while (i < samples.length) { samples(i) = m.payload(i) & 0xff; i += 1 }
      m.copy(payload = Codecs.WavCodec.encode(samples, 8000), fmt = "audio/wav")
    }
  }

  /** Materialize each payload as one object in a local object store
    * (file:// scheme standing in for s3://; same Hadoop FileSystem API
    * either way) and remember the store root. Idempotent per
    * (dataset, tag) — a _SUCCESS marker skips the rewrite.
    */
  private def objectStoreFor(spark: SparkSession, dir: String, tag: String,
      table: => Dataset[MediaItem]): String =
    // one payload object store per (source dataset, payload format),
    // written once per JVM
    graft.Memo.global(s"multimodal.objstore:$dir#$tag") {
      val base = graft.Memo.tmp("graft_objstore_" + tag + "_" +
        graft.Tables.fingerprint(s"$dir/documents.parquet")).toString
      val marker = new java.io.File(base, "_SUCCESS")
      if (!marker.exists()) {
        table.foreachPartition { (it: Iterator[MediaItem]) =>
          val conf = new org.apache.hadoop.conf.Configuration()
          val fs = org.apache.hadoop.fs.FileSystem.get(
            new java.net.URI(s"file://$base/"), conf)
          it.foreach { m =>
            val p = new org.apache.hadoop.fs.Path(s"file://$base/doc_${m.doc_id}.bin")
            val out = fs.create(p, true)
            try out.write(m.payload) finally out.close()
          }
        }
        marker.createNewFile()
      }
      base
    }

  /** The pointer-only media table — the >1 MB row shape at 100 TB: the
    * table row carries metadata plus a `uri` pointer; the payload bytes
    * live in the object store, not in the table.
    */
  // round 15 (optimization, guide §4/§6): pointer rows are METADATA —
  // deriving them by mapping the payload-bearing table synthesized the
  // full payload per row (UTF-8 encode, and for WAV the whole RIFF
  // container build) only to drop it in the copy, and the lambda-map
  // blocked column pruning so the documents scan read `text` too.
  // Build the pointer row directly from the metadata columns: the scan
  // reads (doc_id, n_chars) only, zero payload synthesis. Fields are
  // identical by construction (fmt/width/height formulas unchanged;
  // the store build — behind its _SUCCESS marker — still synthesizes
  // real payloads once per (dataset, tag)).
  private def pointerRows(spark: SparkSession, dir: String, store: String,
      fmt: String): Dataset[MediaItem] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        lit(Array.emptyByteArray).as("payload"),
        concat(lit(s"file://$store/doc_"), col("doc_id"), lit(".bin")).as("uri"),
        lit(fmt).as("fmt"),
        (pmod(col("n_chars"), lit(64)) + 1).cast("int").as("width"),
        (pmod(col("n_chars"), lit(48)) + 1).cast("int").as("height"))
      .as[MediaItem]
  }

  def pointerTable(spark: SparkSession, dir: String): Dataset[MediaItem] =
    pointerRows(spark, dir,
      objectStoreFor(spark, dir, "raw", mediaTable(spark, dir)), "fake/raw")

  /** Pointer table over the WAV object store (G1's input). */
  def wavPointerTable(spark: SparkSession, dir: String): Dataset[MediaItem] =
    pointerRows(spark, dir,
      objectStoreFor(spark, dir, "wav", wavTable(spark, dir)), "audio/wav")

  /** Pointer-dereferencing fetch stage ahead of decode: items that
    * carry bytes inline pass through; pointer-only items are fetched
    * through ONE Hadoop FileSystem handle per (partition, scheme) —
    * the batch-amortized setup a real s3:// fetch needs. Fetch and
    * decode stay separate stages so sampling/filtering can run between
    * them (pay IO only for the items that survive).
    */
  def fetchPayloads(items: Dataset[MediaItem]): Dataset[MediaItem] = {
    import items.sparkSession.implicits._
    items.mapPartitions { it =>
      lazy val conf = new org.apache.hadoop.conf.Configuration()
      val fsCache = scala.collection.mutable.HashMap
        .empty[String, org.apache.hadoop.fs.FileSystem]
      it.map { m =>
        if (m.payload != null && m.payload.nonEmpty) m
        else {
          val uri = new java.net.URI(m.uri)
          val fs = fsCache.getOrElseUpdate(
            uri.getScheme + Option(uri.getAuthority).getOrElse(""),
            org.apache.hadoop.fs.FileSystem.get(uri, conf))
          val p = new org.apache.hadoop.fs.Path(uri)
          // stream to EOF — one open() RPC per object, no getFileStatus
          // metadata round-trip (which doubled per-object latency on
          // KB-scale payloads)
          val in = fs.open(p)
          val bos = new java.io.ByteArrayOutputStream(8192)
          try {
            val tmp = new Array[Byte](65536)
            var r = in.read(tmp)
            while (r >= 0) { bos.write(tmp, 0, r); r = in.read(tmp) }
          } finally in.close()
          m.copy(payload = bos.toByteArray)
        }
      }
    }
  }

  /** The codec integration point: one instance per partition drives a
    * batch of items — init (codec handles, model weights) happens once
    * in `decode` before the iterator is consumed, amortized across the
    * partition. Implementations must be Serializable (constructed on
    * the driver, shipped to executors).
    */
  trait MediaDecoder extends Serializable {
    def decode(items: Iterator[MediaItem]): Iterator[MediaFeatures]
  }

  /** Raw-byte decoder: statistics straight over the payload bytes —
    * the baseline for format-opaque payloads and the custom-decoder
    * spec hook.
    */
  object StubDecoder extends MediaDecoder {
    override def decode(items: Iterator[MediaItem]): Iterator[MediaFeatures] =
      items.map(m => featuresOf(m.doc_id, m.payload.map(b => (b & 0xff))))
  }

  /** REAL WAV decoder: parses the RIFF/WAVE container per item
    * ([[Codecs.WavCodec.decode]] — chunk walk, PCM16 sign-extension)
    * and computes features over the DECODED SAMPLES. Codec handles are
    * stateless here; a stateful codec would init once per partition
    * before the iterator is consumed, amortized across the batch.
    */
  object WavDecoder extends MediaDecoder {
    override def decode(items: Iterator[MediaItem]): Iterator[MediaFeatures] =
      items.map { m =>
        featuresOf(m.doc_id, Codecs.WavCodec.decode(m.payload).samples)
      }
  }

  /** Shared feature math (exact integer sums → one division at the
    * end, so the documents-table oracle reproduces the doubles
    * bit-for-bit). `n_bytes` is the decoded element count — equal to
    * the raw byte count for 1-byte-per-sample synthesis.
    */
  private def featuresOf(docId: Long, values: Array[Int]): MediaFeatures = {
    val n = values.length.toLong
    var sum = 0L
    var nz = 0L
    val hist = new Array[Double](4)
    var i = 0
    while (i < values.length) {
      val v = values(i)
      sum += v
      if (v != 0) nz += 1
      hist(math.floorMod(v, 4)) += 1.0
      i += 1
    }
    MediaFeatures(docId, n,
      if (n == 0) 0.0 else sum.toDouble / n,
      if (n == 0) 0.0 else nz.toDouble / n,
      hist.map(h => if (n == 0) 0.0 else h / n))
  }

  /** A "video": the payload chunked into fixed-size frames. */
  case class VideoItem(doc_id: Long, frames: Array[Array[Byte]], fps: Int)

  case class FrameStats(doc_id: Long, n_frames: Int, n_sampled: Int, mean_sampled_byte: Double)

  /** G2: frame sampling — each document's bytes are encoded as a REAL
    * binary PGM image (P5 header + raster, [[Codecs.PgmCodec]]); the
    * decode stage parses the header (whitespace/comment-tolerant) and
    * chunks the decoded raster into fixed 64-pixel frames, of which
    * every k-th goes through feature extraction. Sampling happens at
    * the frame index BEFORE touching frame content, which is the
    * entire point at 100 TB: decode/feature cost scales with sampled
    * frames, not stored frames. Decoded pixel == ascii(char), so the
    * documents oracle replays the whole encode→decode loop.
    */
  def frameSample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val every = 4
    val framePx = 64
    val images = Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .map { case (id, bytes) =>
        // 1×n grayscale: every byte is one pixel, no padding
        (id, Codecs.PgmCodec.encode(bytes, bytes.length, 1))
      }
    images.mapPartitions { items =>
      items.map { case (id, pgm) =>
        val px = Codecs.PgmCodec.decode(pgm).pixels
        val frames = px.grouped(framePx).toArray
        val sampled = frames.indices.by(every).map(frames)
        val bytes = sampled.flatten
        FrameStats(id, frames.length, sampled.length,
          if (bytes.isEmpty) 0.0
          else bytes.map(b => (b & 0xff).toLong).sum.toDouble / bytes.length)
      }
    }.select(col("doc_id"), col("n_frames"), col("n_sampled"),
      (floor(col("mean_sampled_byte") * 10000 + 0.5) / 10000).as("mean_sampled_byte"))
  }

  case class AudioFeatures(doc_id: Long, n_win: Int, total_energy: Long,
      peak_win: Int, peak_energy: Long)

  /** G3: audio-style windowed features — each payload is a REAL
    * RIFF/WAVE PCM16 container ([[wavTable]]); the decode stage parses
    * it ([[Codecs.WavCodec.decode]]) and the decoded sample stream is
    * chopped into fixed 32-sample windows with per-window energy
    * (Σ sample²), peak-window detection, total energy. The
    * per-partition iterator is where a real VAD/codec model batches;
    * arithmetic is exact integers and decoded sample == ascii(char),
    * so the documents oracle matches bit-for-bit. Peak ties resolve to
    * the FIRST max window on both engines.
    */
  def audioFeatures(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val win = 32
    wavTable(spark, dir).mapPartitions { items =>
      // zero-sample payloads yield no windows and no row — matching the
      // oracle, whose UNNEST(range(0)) drops empty docs entirely
      items.map(m => m.doc_id -> Codecs.WavCodec.decode(m.payload).samples)
        .filter(_._2.nonEmpty).map { case (docId, s) =>
          val n = (s.length + win - 1) / win
          var total = 0L; var peak = 0L; var peakI = 0
          var w = 0
          while (w < n) {
            var e = 0L
            var i = w * win
            val end = math.min((w + 1) * win, s.length)
            while (i < end) { val v = s(i).toLong; e += v * v; i += 1 }
            total += e
            if (e > peak) { peak = e; peakI = w }
            w += 1
          }
          AudioFeatures(docId, n, total, peakI, peak)
        }
    }.toDF()
  }

  case class ResampleRow(doc_id: Long, n_out: Int, sum_out: Long,
      peak_out: Long, rate_ok: Boolean)

  /** G8 (round 9): audio RESAMPLING — decimate each WAV payload 4× by
    * block-averaging (mean of each 4-sample block, integer floor —
    * the poor-man's anti-alias a 16 kHz→4 kHz speech pipeline runs
    * before a model whose front-end expects the lower rate), then
    * RE-ENCODE the result as a real RIFF/WAVE container at the new
    * rate and DECODE THAT back for the emitted stats — the gate rides
    * the full decode → DSP → re-encode → re-decode loop, so a broken
    * header write or a rate mis-stamp fails `rate_ok`, and any sample
    * corruption in either codec pass breaks the integer sums against
    * the documents oracle (the G1/G6 discipline, twice through the
    * codec). One mapPartitions pass, exact integer arithmetic; ragged
    * tails average their 1-3 remaining samples.
    */
  def audioResample(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val f = 4
    wavTable(spark, dir).mapPartitions { items =>
      items.map(m => m.doc_id -> Codecs.WavCodec.decode(m.payload).samples)
        .filter(_._2.nonEmpty).map { case (docId, s) =>
          val n = (s.length + f - 1) / f
          val out = new Array[Int](n)
          var b = 0
          while (b < n) {
            val end = math.min((b + 1) * f, s.length)
            var sum = 0; var i = b * f
            while (i < end) { sum += s(i); i += 1 }
            out(b) = sum / (end - b * f)
            b += 1
          }
          val re = Codecs.WavCodec.decode(
            Codecs.WavCodec.encode(out, 2000))
          var total = 0L; var peak = 0L
          re.samples.foreach { v => total += v; if (v > peak) peak = v }
          ResampleRow(docId, re.samples.length, total, peak,
            re.sampleRate == 2000 && re.samples.length == n)
        }
    }.toDF()
  }

  case class IntegrityRow(doc_id: Long, n_bytes: Long, kind: String,
      checksum: Long, meta_ok: Boolean)

  /** G4: payload integrity — the ingest-validation pass a multimodal
    * lakehouse runs before paying decode cost: per payload, a
    * magic-byte format sniff (here the stub classes text/digit/other —
    * a real table checks JPEG/PNG/RIFF magics in the same first-bytes
    * slot), a polynomial checksum of the full byte stream, and a
    * metadata-consistency check (payload length vs the width metadata
    * derived from it at ingest). The corpus is intact by construction,
    * so both engines TRUNCATE every 50th payload by one byte first —
    * the PII-injection trick — and the gate proves known corruption is
    * flagged (checksum shifts, meta_ok false), not that nothing is
    * wrong. One mapPartitions pass, exact integer arithmetic
    * throughout.
    */
  def integrity(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val M = 1000000007L
    mediaTable(spark, dir)
      .mapPartitions { items =>
        items.map { m0 =>
          // truncation injection folded into the same pass — no second
          // encoder round-trip over the payload arrays
          val m = if (m0.doc_id % 50 == 0) m0.copy(payload = m0.payload.dropRight(1))
                  else m0
          val b = m.payload
          var h = 0L
          var i = 0
          while (i < b.length) { h = (h * 131 + (b(i) & 0xff)) % M; i += 1 }
          val kind =
            if (b.isEmpty) "empty"
            else {
              val c = b(0) & 0xff
              if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) "text"
              else if (c >= '0' && c <= '9') "digit" else "other"
            }
          IntegrityRow(m.doc_id, b.length.toLong, kind, h,
            (b.length % 64) + 1 == m.width)
        }
      }.toDF()
  }

  /** G1: the full pipeline — pointer table → uri fetch → per-partition
    * batch decode → feature columns. Payloads are NOT inline: the
    * pipeline reads them through the object-store pointer path
    * (fetchPayloads), which is how a >1 MB-payload table works at
    * 100 TB. The stored objects are REAL WAV containers and the decode
    * stage is the real RIFF parser ([[WavDecoder]]); features are
    * computed over decoded samples, which equal the document's ascii
    * codes on this corpus — so the documents-table oracle gates the
    * whole store→fetch→decode loop.
    */
  def pipeline(spark: SparkSession, dir: String): DataFrame =
    pipelineFrom(wavPointerTable(spark, dir), WavDecoder)

  case class ResizeOut(doc_id: Long, w: Int, h: Int, out_sum: Long, out_wsum: Long)

  /** G6: image resize — nearest-neighbor downsample of REAL binary PGM
    * payloads to a 4×4 thumbnail. Each document's bytes become a w×h
    * raster (w = doc_id-dependent, h = len/w — truncation to w·h is
    * part of the contract), round-tripped through [[Codecs.PgmCodec]]:
    * the decode stage re-parses the P5 header and the resize reads its
    * width/height FROM the decoded struct, so a header off-by-one or
    * raster offset bug shifts every sampled pixel and breaks the gate.
    * out(i,j) = raster[⌊i·h/4⌋·w + ⌊j·w/4⌋] — integer arithmetic only;
    * the output is the thumbnail's exact pixel sum and position-
    * weighted sum, which the documents oracle replays via ascii()
    * under the ASCII corpus contract.
    *
    * Scale shape: pure mapPartitions (the batch-decode contract G1
    * established) — zero shuffles; at 100 TB decode+resize cost is one
    * pass and the thumbnail (not the raster) is what downstream
    * keeps — the standard thumbnail-extraction pipeline stage.
    */
  def resize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val target = 4
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { items =>
        items.flatMap { case (id, bytes) =>
          val w = (id % 29).toInt + 2
          val h = bytes.length / w
          if (h < 1) None
          else {
            val pgm = Codecs.PgmCodec.encode(bytes.take(w * h), w, h)
            val img = Codecs.PgmCodec.decode(pgm)
            var s = 0L; var ws = 0L
            var i = 0
            while (i < target) {
              var j = 0
              while (j < target) {
                val px = img.pixels(
                  (i * img.height / target) * img.width + (j * img.width / target)) & 0xff
                s += px
                ws += px.toLong * (i * target + j + 1)
                j += 1
              }
              i += 1
            }
            Some(ResizeOut(id, img.width, img.height, s, ws))
          }
        }
      }.toDF()
  }

  case class PngOut(doc_id: Long, w: Int, h: Int, n_px: Long,
      px_sum: Long, n_nonzero: Long)

  /** G7: REAL third-party-codec integration — each document's raster
    * (same w×h convention as G6) round-trips through the JDK's actual
    * PNG codec (javax.imageio: IDAT deflate compression, filtering,
    * chunk CRCs — not a hand-rolled container): encode to a PNG byte
    * stream, decode it back, and compute features over the DECODED
    * raster. PNG grayscale-8 is lossless, so decode∘encode must be the
    * identity — asserted per payload in the operator (a codec
    * regression fails the job loudly), and the decoded-pixel features
    * equal the ascii codes, which is how the documents oracle gates
    * the whole real-codec loop (the G1/G6 discipline with a codec the
    * project did NOT write).
    *
    * Scale shape: pure mapPartitions batch decode — the per-partition
    * amortization [[MediaDecoder]] prescribes; zero shuffles. At
    * 100 TB the PNG bytes are the stored object and only the features
    * move on.
    */
  def pngRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { items =>
        // round 14 (optimization, guide §1.2 per-task work): the
        // static ImageIO.write/read entry points do an SPI provider
        // scan per call AND (with the default useCache=true) back
        // every stream with a TEMP FILE on executor disk — one create+
        // write+delete per image. Resolve the PNG writer/reader ONCE
        // per partition and wrap the byte arrays in memory-cached
        // image streams; the codec (and therefore every decoded byte,
        // i.e. the query result) is unchanged. Measured 2.2 s → see
        // OPTIMIZATION_r14.md.
        val writer =
          javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
        val reader =
          javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
        items.flatMap { case (id, bytes) =>
          val w = (id % 29).toInt + 2
          val h = bytes.length / w
          if (h < 1) None
          else {
            val raster = bytes.take(w * h)
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
            img.getRaster.setDataElements(0, 0, w, h, raster)
            val bos = new java.io.ByteArrayOutputStream()
            val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
            writer.setOutput(ios)
            writer.write(img)
            ios.flush()
            val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
              new java.io.ByteArrayInputStream(bos.toByteArray))
            reader.setInput(iis)
            val back = reader.read(0)
            require(back != null && back.getWidth == w && back.getHeight == h,
              s"PNG decode lost dimensions for doc $id")
            val out = new Array[Byte](w * h)
            back.getRaster.getDataElements(0, 0, w, h, out)
            require(java.util.Arrays.equals(out, raster),
              s"PNG round-trip drifted pixels for doc $id")
            var s = 0L; var nz = 0L
            var i = 0
            while (i < out.length) {
              val v = out(i) & 0xff
              s += v; if (v != 0) nz += 1
              i += 1
            }
            Some(PngOut(id, w, h, (w.toLong * h), s, nz))
          }
        }
      }.toDF()
  }

  /** G5: perceptual-hash payload near-dup — the multimodal twin of
    * SimHash (D3): re-encoded/trailing-edit copies of the same media
    * asset have different checksums (G4 can't catch them) but nearly
    * identical CONTENT, so each payload gets a 60-bit blockhash
    * fingerprint (bit j = is block j's byte mean above the whole
    * payload's mean — the classic aHash/Blockhash shape on pixel
    * data) and pairs within hamming distance 5 are flagged.
    *
    * The sign test is the exact integer cross-product
    * `blocksum*n > tot*blocklen` (no FP anywhere), computed on the
    * payload BYTES — equal to the text characters under the
    * mediaTable ASCII contract, which is how the DuckDB oracle
    * replays it via ascii(). Twin payloads (trailing 2 bytes edited,
    * doc_id+3000000) are injected so near-but-not-equal pairs exist.
    * Candidates come from 6×10-bit chunk blocking: hd ≤ 5 means some
    * chunk is untouched (pigeonhole), so the blocked join is EXACT —
    * the D3 argument, Σ bucket² work instead of corpus².
    */
  def phashDedup(spark: SparkSession, dir: String): DataFrame =
    phashDedupOn(Tables.documents(spark, dir),
      Some(s"multimodal.phashFps:$dir"))

  /** DataFrame-generic payload phash dedup; input needs (doc_id, text).
    * Exposed so the scale probe can drive the same plan over
    * replicated corpora. The fingerprint table is consumed twice (both
    * sides of the chunk join): the gated path pins it via Memo (one
    * copy per session+dataset, released by Memo.clear); a keyless call
    * (ScaleProbe's one-shot replicated corpus) caches ad hoc.
    */
  def phashDedupOn(docs: DataFrame, memoKey: Option[String] = None): DataFrame = {
    val base = docs.select(col("doc_id"), col("text"))
    val twins = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"),
        expr("concat(substring(text, 1, greatest(length(text) - 2, 0)), 'zz')")
          .as("text"))
    // one codegen byte loop per payload (graft.functions.BlockHash) —
    // the HOF formulation (per-char ascii array + 60 interpreted
    // slice-folds) computed the identical fingerprint ~4x slower
    val fpsPlan = base.unionByName(twins)
      .withColumn("fp",
        graft.functions.BlockHash.column(base.sparkSession, col("text")))
      .select(col("doc_id"), col("fp"))
    val fps = memoKey match {
      case Some(k) => graft.Memo.cached(base.sparkSession, k)(fpsPlan)
      case None => fpsPlan.cache()
    }
    val chunks = fps.select(col("doc_id"), col("fp"),
      explode(array((0 until 6).map(c =>
        struct(lit(c).as("c"),
          shiftright(col("fp"), c * 10).bitwiseAND(lit(1023L)).as("ch"))): _*))
        .as("cc"))
      .select(col("doc_id"), col("fp"), col("cc.c").as("c"), col("cc.ch").as("ch"))
    chunks.select(col("doc_id").as("ia"), col("fp").as("fa"), col("c"), col("ch"))
      .join(chunks.select(col("doc_id").as("ib"), col("fp").as("fb"),
        col("c"), col("ch")), Seq("c", "ch"))
      .filter(col("ia") < col("ib"))
      .select(col("ia"), col("ib"),
        expr("bit_count(fa ^ fb)").cast("long").as("hd"))
      .distinct()
      .filter(col("hd") <= 5)
  }

  /** G9 (round 9): contrastive PAIR ASSEMBLY — the LAION/CLIP-style
    * curation that turns a raw (payload, caption) corpus into aligned
    * training pairs: (1) payload near-dup removal through the G5
    * perceptual-hash machinery (keep-first: the larger id of every
    * hd ≤ 5 pair drops — the planted twins and any organic repeats),
    * (2) caption quality floor (≥ 30 words), (3) per-survivor image
    * metadata carried through, (4) a deterministic SHARD-LOCAL
    * contrastive negative per pair: within bucket doc_id mod 16, the
    * next kept doc (wrapping to the bucket's first) — shard-local
    * negatives are how contrastive loaders actually batch, and the
    * bucketed window keeps the pairing embarrassingly parallel (no
    * global-order window anywhere). The DuckDB oracle replays the
    * phash bit-for-bit (the G5 SQL), the filter, and the bucketed
    * wraparound pairing.
    */
  def pairAssembly(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val removed = phashDedup(spark, dir)
      .select(col("ib").as("doc_id")).distinct()
    val base = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val twins = base.filter(pmod(col("doc_id"), lit(20)) === 0)
      .select((col("doc_id") + lit(3000000L)).as("doc_id"),
        expr("concat(substring(text, 1, greatest(length(text) - 2, 0)), 'zz')")
          .as("text"))
    val kept = base.unionByName(twins)
      .join(removed, Seq("doc_id"), "left_anti")
      .withColumn("n_words", size(split(col("text"), " ")))
      .filter(col("n_words") >= 30)
    val bucket = pmod(col("doc_id"), lit(16))
    val w = Window.partitionBy(bucket).orderBy(col("doc_id"))
    kept
      .withColumn("neg_doc", coalesce(lead(col("doc_id"), 1).over(w),
        min(col("doc_id")).over(Window.partitionBy(bucket))))
      .select(col("doc_id"), col("n_words").cast("long").as("n_words"),
        (pmod(length(col("text")), lit(64)) + 1).cast("long").as("img_w"),
        (pmod(length(col("text")), lit(48)) + 1).cast("long").as("img_h"),
        col("neg_doc"))
  }

  /** The pipeline with a caller-supplied codec behind [[MediaDecoder]]
    * over the raw-byte object store.
    */
  def pipelineWith(spark: SparkSession, dir: String,
      decoder: MediaDecoder): DataFrame =
    pipelineFrom(pointerTable(spark, dir), decoder)

  private def pipelineFrom(ptrs: Dataset[MediaItem],
      decoder: MediaDecoder): DataFrame = {
    val spark = ptrs.sparkSession
    import spark.implicits._
    val feats = fetchPayloads(
      ptrs.repartition(col("doc_id"))) // spread fetch IO evenly pre-decode
      .mapPartitions(decoder.decode _)
    // floor-based rounding: the underlying doubles are bit-identical to
    // the oracle's (exact integer sums / lengths), so floor(x*1e4+0.5)
    // can never disagree — round() can, on decimal-tie expansions like
    // sum/160
    def r4(c: org.apache.spark.sql.Column) = floor(c * 10000 + 0.5) / 10000
    feats.select(col("doc_id"), col("n_bytes"),
      r4(col("mean_byte")).as("mean_byte"),
      r4(col("nonzero_ratio")).as("nonzero_ratio"),
      r4(element_at(col("feat"), 1)).as("f0"),
      r4(element_at(col("feat"), 2)).as("f1"))
  }
}
