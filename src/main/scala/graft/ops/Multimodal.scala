package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata,
  * with decode / feature-extraction as partition-local batch transforms.
  *
  * External image/audio codec LIBRARIES are not in this environment, so
  * the default decode step is a clearly-marked deterministic STUB
  * (`stubFeaturize`) — but [[Multimodal.ImageIoCodec]] is a REAL decoder
  * over the JDK's built-in `javax.imageio` (PNG/BMP/GIF), proving the
  * seam with genuine decoding, and the Spark-side plumbing is real and
  * what matters at scale:
  *  - payloads travel as `BinaryType` columns (columnar, no row-object
  *    blowup), metadata as plain typed columns next to them;
  *  - feature extraction runs via `mapPartitions` so a real codec would
  *    amortize model/library init once per partition (the Scala analogue
  *    of pandas-batched UDFs);
  *  - output schema is fixed (`featSchema`) so downstream similarity /
  *    dedup operators (Similarity.scala) consume it directly.
  */
object Multimodal {

  /** Metadata for a binary payload: length + content hash (dedup key). */
  def withMetadata(df: DataFrame, binCol: String): DataFrame =
    df.withColumn("byte_len", length(col(binCol)).cast(LongType))
      .withColumn("content_sha", sha2(col(binCol), 256))

  /** Output schema of the featurizer: id, byte_len, first/last byte and a
    * fixed-width feature vector. */
  def featSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("byte_len", LongType),
    StructField("first_byte", IntegerType),
    StructField("feature", ArrayType(FloatType))))

  /** STUB decoder/featurizer: a real implementation would decode the
    * image/audio payload and run a feature extractor per batch; this
    * deterministic fake derives a 4-dim feature from the raw bytes so
    * the full pipeline (schema, batching, partitioning) is exercised
    * end-to-end and testable. Replace the body, keep the signature. */
  def stubFeaturize(payload: Array[Byte]): Array[Float] = {
    // ??? <- real codec goes here; deterministic fake below
    var s0 = 0L; var s1 = 0L
    var i = 0
    while (i < payload.length) {
      s0 += payload(i) & 0xff
      s1 ^= (payload(i) & 0xffL) << (i % 48)
      i += 1
    }
    Array(s0.toFloat, (s0 % 251).toFloat, (s1 % 997).toFloat,
      payload.length.toFloat)
  }

  /** Frame sampling over an opaque video/audio payload: `n` fixed-width
    * `frameLen`-byte chunks at a uniform integer stride tiling
    * [0, len − frameLen] — the codec-free plumbing of video frame
    * extraction (a real pipeline swaps the byte slice for a decoder
    * keyframe read; row shape, distribution, and determinism are
    * identical). Pure codegen'd substring arithmetic — no UDF, no
    * shuffle; one output row per (id, frame_idx). Payloads shorter than
    * `frameLen` yield n copies of the whole payload (offset 0), keeping
    * the output shape fixed for downstream batch featurizers. */
  def frameSample(df: DataFrame, idCol: String, binCol: String,
      n: Int, frameLen: Int): DataFrame = {
    require(n >= 2 && frameLen >= 1)
    val len = length(col(binCol)).cast(LongType)
    val span = greatest(len - lit(frameLen.toLong), lit(0L))
    // double division is exact here (offsets ≪ 2^53), and floor(x/k)
    // written the same way in SQL engines reproduces identical offsets
    val offs = transform(sequence(lit(0L), lit((n - 1).toLong)),
      i => floor((i * span) / lit((n - 1).toDouble)).cast(LongType))
    df.select(col(idCol), col(binCol).as("_b"),
        posexplode(offs).as(Seq("frame_idx", "offset")))
      .select(col(idCol), col("frame_idx").cast(LongType).as("frame_idx"),
        col("offset"),
        col("_b").substr(col("offset").cast("int") + lit(1),
          lit(frameLen)).as("frame"))
  }

  /** The decode/featurize seam: implementations wrap a real image/audio
    * codec or feature model. The contract IS the 100 TB shape:
    *  - constructed ON THE EXECUTOR once per partition (via the factory
    *    passed to [[featurize]]) — model weights / codec contexts load
    *    once per task, never per row;
    *  - fed BATCHES of payloads (vectorization-friendly — a real
    *    implementation hands the whole batch to the native library in
    *    one call, the Scala analogue of a pandas-batched UDF);
    *  - closed when the partition is exhausted (native buffers freed
    *    even mid-stream, because close also runs on task completion). */
  trait BatchCodec {
    /** One feature vector per payload, same order/length as the input. */
    def featurizeBatch(payloads: Array[Array[Byte]]): Array[Array[Float]]
    def close(): Unit = ()
  }

  /** Default codec: the deterministic [[stubFeaturize]] fake, batched. */
  final class StubCodec extends BatchCodec {
    def featurizeBatch(payloads: Array[Array[Byte]]): Array[Array[Float]] =
      payloads.map(stubFeaturize)
  }

  /** A REAL decoder behind the [[BatchCodec]] seam using only the JDK's
    * built-in `javax.imageio` (PNG/BMP/GIF everywhere; JPEG per-JRE) —
    * no external deps, so the seam is proven with a genuine codec while
    * [[StubCodec]] stays the default for byte-deterministic tests.
    * Feature (8-dim): [width, height, nComponents, meanR, meanG, meanB,
    * meanLuma, aspect]. Means are integer-summed then divided once, so
    * they are bit-identical across partitionings. Undecodable payloads
    * yield all -1 (schema-stable failure capture, the JsonSource
    * failable-parse idiom applied to binaries: `feature[0] < 0` isolates
    * the failures downstream — a throw here would kill the whole task
    * for one bad file). Decoder instances are NOT thread-safe in
    * general; the [[featurize]] contract of one codec per partition is
    * exactly the right lifecycle. */
  final class ImageIoCodec extends BatchCodec {
    private val failed = Array.fill(8)(-1.0f)
    def featurizeBatch(payloads: Array[Array[Byte]]): Array[Array[Float]] =
      payloads.map { bytes =>
        try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) failed.clone()
          else {
            val w = img.getWidth; val h = img.getHeight
            var r = 0L; var g = 0L; var b = 0L
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val p = img.getRGB(x, y)
                r += (p >> 16) & 0xff; g += (p >> 8) & 0xff; b += p & 0xff
                x += 1
              }
              y += 1
            }
            val n = (w.toLong * h).toFloat
            val mr = r / n; val mg = g / n; val mb = b / n
            Array(w.toFloat, h.toFloat,
              img.getColorModel.getNumComponents.toFloat, mr, mg, mb,
              0.299f * mr + 0.587f * mg + 0.114f * mb, w.toFloat / h)
          }
        } catch {
          // validates untrusted bytes: corrupt → the all -1 fail row
          case _: Exception => failed.clone()
        }
      }
  }

  /** Output schema of [[resizeNearest]]: dims in/out + the resized
    * pixels as packed ARGB ints (row-major) + the fail-capture
    * `reason` ("ok" on success — same idiom as [[wavStatsSchema]]). */
  def resizeSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("in_w", IntegerType), StructField("in_h", IntegerType),
    StructField("out_w", IntegerType), StructField("out_h", IntegerType),
    StructField("pixels", ArrayType(IntegerType)),
    StructField("reason", StringType)))

  /** REAL image resize through the decode seam: decode each binary
    * payload with the JDK's `javax.imageio` (the [[ImageIoCodec]]
    * decoder), then nearest-neighbor sample to `outW`×`outH` —
    * `src = (dst · in) / out` in integer arithmetic, so the sampled
    * grid is a pure function of the dimensions and an external system
    * can recompute the expected pixels exactly (PNG being lossless,
    * encode→decode→resize round-trips known patterns bit-for-bit —
    * the q133 oracle). Same partition-local lifecycle as [[featurize]]
    * (decoder state per partition, never per row); undecodable
    * payloads fail-capture as dims −1 with empty pixels and a
    * `reason` naming the failure class — "unreadable" when no
    * registered reader recognizes the payload (ImageIO.read → null:
    * wrong format, garbage bytes), "decode-error:<ExceptionClass>"
    * when a reader matched but decoding threw (truncated/corrupt
    * body) — the same reason-coded schema-stable idiom as
    * [[decodeWavStats]]; successful rows carry "ok". Narrow map, no
    * shuffle;
    * output pixel arrays are bounded by outW·outH regardless of input
    * size — the downsample-at-ingest shape that keeps a 100 TB image
    * corpus's feature pass IO-bounded, not pixel-bounded. */
  def resizeNearest(df: DataFrame, idCol: String, binCol: String,
      outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1)
    val in = df.select(col(idCol).cast(LongType), col(binCol))
    val enc = ExpressionEncoder(resizeSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        var reason: String = null
        val img =
          try {
            val i = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(bytes))
            if (i == null) reason = "unreadable"
            i
          } catch { case e: Exception =>
            reason = s"decode-error:${e.getClass.getSimpleName}"
            null
          }
        if (img == null)
          Row(r.getLong(0), -1, -1, outW, outH, Seq.empty[Int], reason)
        else {
          val w = img.getWidth; val h = img.getHeight
          val px = new Array[Int](outW * outH)
          var y = 0
          while (y < outH) {
            val sy = y * h / outH
            var x = 0
            while (x < outW) {
              px(y * outW + x) = img.getRGB(x * w / outW, sy)
              x += 1
            }
            y += 1
          }
          Row(r.getLong(0), w, h, outW, outH, px.toSeq, "ok")
        }
      }
    }(enc)
  }

  /** Output schema of [[decodeWavStats]]. */
  def wavStatsSchema: StructType = StructType(Seq(
    StructField("id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("n_frames", LongType),
    StructField("abs_sum", LongType),
    StructField("reason", StringType)))

  /** REAL audio decode through the seam — the WAV sibling of
    * [[resizeNearest]]'s imageio path: each binary payload parses with
    * the JDK's `javax.sound.sampled` (RIFF/WAVE, PCM), and the decoded
    * 16-bit little-endian signed-PCM frames reduce to (sample_rate,
    * n_frames, Σ|sample|) — all INTEGER arithmetic, so an external
    * system that knows the synthesis recipe recomputes the expected
    * stats exactly (the q159 oracle; WAV PCM being lossless,
    * encode→decode round-trips bit-for-bit). STEREO payloads downmix
    * to mono first — per frame, `(L + R) >> 1` (arithmetic-shift
    * floor), still pure integer math, so the downmixed stats stay
    * engine-recomputable. Everything else fail-captures schema-stably
    * as sample_rate −1 / zero frames with a `reason` column naming the
    * failing class — "unreadable" for payloads the parser rejects,
    * "unsupported:<bits>b/<n>ch/<le|be>/<encoding>" for well-formed
    * WAVs outside the 16-bit/LE/signed-PCM/≤2-channel envelope
    * (including 16-bit payloads whose header LIES about the encoding —
    * decoding unsigned or float bytes as signed would produce silently
    * wrong stats, the worst failure mode of a stats-at-ingest pass).
    * Successful rows carry reason "ok". Narrow map, no shuffle; per-row
    * output is four scalars regardless of clip length, the
    * stats-at-ingest shape that keeps an audio corpus pass IO-bounded. */
  def decodeWavStats(df: DataFrame, idCol: String,
      binCol: String): DataFrame = {
    val in = df.select(col(idCol).cast(LongType), col(binCol))
    val enc = ExpressionEncoder(wavStatsSchema)
    in.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](1)
        try {
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = ais.getFormat
            val signed = fmt.getEncoding ==
              javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED
            val ch = fmt.getChannels
            if (fmt.getSampleSizeInBits != 16 || fmt.isBigEndian ||
                !signed || ch < 1 || ch > 2) {
              val reason = s"unsupported:${fmt.getSampleSizeInBits}b/" +
                s"${ch}ch/${if (fmt.isBigEndian) "be" else "le"}/" +
                fmt.getEncoding.toString
              Row(r.getLong(0), -1, 0L, 0L, reason)
            } else {
              val pcm = ais.readAllBytes()
              def s16(i: Int): Int =
                (((pcm(i + 1): Int) << 8) | (pcm(i) & 0xFF)).toShort.toInt
              val frameBytes = 2 * ch
              var i = 0; var n = 0L; var sum = 0L
              while (i + frameBytes <= pcm.length) {
                val v =
                  if (ch == 1) s16(i)
                  else (s16(i) + s16(i + 2)) >> 1 // stereo downmix
                sum += math.abs(v.toLong)
                n += 1; i += frameBytes
              }
              Row(r.getLong(0), fmt.getSampleRate.toInt, n, sum, "ok")
            }
          } finally ais.close()
        } catch {
          // validates untrusted bytes: corrupt → the "unreadable" row
          case _: Exception => Row(r.getLong(0), -1, 0L, 0L, "unreadable")
        }
      }
    }(enc)
  }

  /** Partition-local batch featurization of (idCol, binCol) rows:
    * `codecFactory` runs ONCE per partition (asserted by OpsSpec with an
    * accumulator), payloads flow to the codec in `batchSize` groups, and
    * the codec is closed on partition completion — swap the factory for
    * a real decoder and the plan/shuffle/lifecycle shape is already the
    * one a production pipeline needs. Narrow map, no shuffle. */
  def featurize(df: DataFrame, idCol: String, binCol: String,
      batchSize: Int = 64,
      codecFactory: () => BatchCodec = () => new StubCodec): DataFrame = {
    require(batchSize >= 1)
    val in = df.select(col(idCol).cast(LongType), col(binCol))
    val enc = ExpressionEncoder(featSchema)
    in.mapPartitions { rows =>
      val codec = codecFactory() // once per PARTITION, not per row
      org.apache.spark.TaskContext.get() match {
        case null => () // driver-local testing path
        case tc => tc.addTaskCompletionListener[Unit](_ => codec.close())
      }
      rows.grouped(batchSize).flatMap { batch =>
        val payloads = batch.map(_.getAs[Array[Byte]](1)).toArray
        val feats = codec.featurizeBatch(payloads)
        batch.iterator.zipWithIndex.map { case (r, i) =>
          val payload = payloads(i)
          Row(r.getLong(0), payload.length.toLong,
            if (payload.nonEmpty) payload(0) & 0xff else -1, feats(i))
        }
      }
    }(enc)
  }
}
