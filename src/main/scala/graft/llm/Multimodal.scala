package graft.llm

import graft.Cached
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: treat image/audio/video payloads as opaque
  * `binary` columns with typed metadata, processed per-partition in
  * batches. The actual codec is NOT available in this environment, so
  * `decodeStub` is a clearly-marked deterministic fake — but the
  * Spark-side contract (schema, binary handling, partition-batched
  * processing, output shape) is real and tested, and swapping the stub
  * for a JNI/codec call changes nothing upstream.
  *
  * Scale notes: payloads stay opaque bytes end-to-end (no driver
  * collect); decode is mapPartitions so a real codec amortizes its init
  * per partition, not per row; metadata extraction (byte length, digest)
  * is pure column expression on the binary type.
  */
object Multimodal {

  /** Rolling (acc*31 + byte) % FpMod digest over a byte window — the
    * one hash family used by every stub (same fold as
    * TextAnalysis.fingerprint / PolyHash, byte-level). */
  private def rollingDigest(bytes: Array[Byte], from: Int, until: Int): Long = {
    var acc = 0L
    var i = from
    val end = math.min(until, bytes.length)
    while (i < end) { acc = (acc * 31 + (bytes(i) & 0xff)) % TextAnalysis.FpMod; i += 1 }
    acc
  }

  /** Metadata over a binary payload column — no decode needed. */
  def binaryMeta(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol),
      length(col(payloadCol).cast("binary")).cast("long").as("byte_len"),
      md5(col(payloadCol).cast("binary")).as("digest"))

  /** Exact media dedup by content digest — the content-addressable-
    * storage move every media lake makes: identical payloads (the same
    * image re-crawled under ten URLs) collapse to one stored copy keyed
    * by digest. One hash aggregate over (digest, byte_len) — byte_len
    * rides along as a free collision tripwire and sizing stat — with
    * the keeper = lowest id. Payloads never leave the executors; the
    * aggregate carries 16-byte digests, not media bytes. Output:
    * (digest, byte_len, keep_id, n_copies). */
  def mediaDedup(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    binaryMeta(df, idCol, payloadCol)
      .groupBy(col("digest"), col("byte_len"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Output schema of the decode step: fixed-shape media metadata plus a
    * small feature vector, the shape a real image decoder would emit. */
  val decodedSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("features", ArrayType(DoubleType, containsNull = false), nullable = false)))

  /** Aspect-preserving resize of decoded media metadata: scales
    * (width, height) so the longer side equals `maxDim` (no payload
    * decode needed — pure column arithmetic over decodeStub output).
    * Degenerate rows (zero-sized media) get null output dims instead of
    * the NaN that would abort the job under ANSI mode. */
  def resizeMeta(decoded: DataFrame, maxDim: Int): DataFrame = {
    val longSide = greatest(col("width"), col("height")).cast("double")
    val scale = lit(maxDim.toDouble) / longSide
    def dim(c: Column) =
      when(longSide > 0, round(c * scale).cast("int")).otherwise(lit(null).cast("int"))
    decoded.withColumn("out_width", dim(col("width")))
      .withColumn("out_height", dim(col("height")))
  }

  /** STUB — frame sampling for "video" payloads: every `stride`-th
    * 8-byte window of the binary is treated as a frame and digested.
    * A real codec would demux/seek here; the per-partition batching and
    * (media_id, frame_idx, digest) output shape are the contract. */
  def frameSampleStub(media: DataFrame, idCol: String, payloadCol: String,
                      stride: Int): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    val spark = media.sparkSession
    val input = media.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
    val rows = input.rdd.mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        (0 until bytes.length / (8 * stride)).map { f =>
          val off = f * 8 * stride
          Row(id, f, rollingDigest(bytes, off, off + 8))
        }
      }
    }
    spark.createDataFrame(rows, StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_digest", LongType, nullable = false))))
  }

  /** STUB — deterministic fake decode. A real implementation would call
    * an image/audio codec here (not installed in this container); the
    * fake derives width/height/format/features from the payload bytes so
    * the pipeline is deterministic and testable. Per-partition batching
    * is the real contract: a codec's native context is initialized once
    * per partition.
    */
  def decodeStub(media: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = media.sparkSession
    val input = media.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
    val rows = input.rdd.mapPartitions { it =>
      // real codec init would happen here, once per partition
      it.map { r =>
        val id = r.getLong(0)
        val bytes = r.getAs[Array[Byte]](1)
        val b = (i: Int) => if (bytes.length > i) bytes(i) & 0xff else 0
        val width = 16 + (b(0) % 16) * 8           // fake header parse
        val height = 16 + (b(1) % 16) * 8
        val format = if (bytes.length % 2 == 0) "png" else "jpg"
        val features = Array.tabulate(4) { j =>    // fake pooled features
          var acc = 0L
          var i = j
          while (i < bytes.length) { acc = (acc * 31 + (bytes(i) & 0xff)) % TextAnalysis.FpMod; i += 4 }
          acc.toDouble / TextAnalysis.FpMod.toDouble
        }
        Row(id, width, height, format, features.toSeq)
      }
    }
    spark.createDataFrame(rows, decodedSchema)
  }

  /** Media NEAR-dup by shared sampled frames — the video/animation twin
    * of text chunk-dedup: two clips that share most of their frames
    * (re-encodes with a new intro, trimmed exports, re-uploads with a
    * watermark overlay on a few frames) never collapse under the exact
    * [[mediaDedup]] digest, but their sampled-frame digest SETS overlap
    * heavily. Candidates come from an inverted index on frame_digest —
    * only media sharing at least one frame ever pair, never n² — with a
    * `dfCap` stop-frame guard: a digest present in more than `dfCap`
    * media (black frames, standard intro cards — the boilerplate of
    * video) is dropped from the index AND from the similarity space, so
    * ubiquitous frames neither blow up the candidate volume nor inflate
    * scores. Containment = n_shared / min(|A|, |B|) over the capped
    * digest space (sub-clip detection: a trimmed export scores 1.0), one
    * division of two exact BIGINTs — bitwise cross-engine, no rounding.
    *
    * Scale shape: distinct (media, digest) rows → digest-keyed
    * df-capped index → pair aggregate sized by candidate collisions;
    * set sizes ride a media-keyed aggregate of the SAME distinct frame
    * table. The codec stub caveat is [[frameSampleStub]]'s: a real
    * demuxer swaps in without touching anything downstream.
    * Output: (ma, mb, n_shared, containment), ma < mb,
    * n_shared >= minShared. */
  def frameNearDup(media: DataFrame, idCol: String, payloadCol: String,
                   stride: Int, dfCap: Long, minShared: Long): DataFrame = {
    require(dfCap >= 1 && minShared >= 1,
      s"need dfCap >= 1 and minShared >= 1, got $dfCap, $minShared")
    val fr = Cached.result(frameSampleStub(media, idCol, payloadCol, stride)
      .select(col("media_id"), col("frame_digest")).distinct())
    // stop-frame guard: digests in more than dfCap media leave the space
    val keep = fr.groupBy(col("frame_digest"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= dfCap)
      .select(col("frame_digest"))
    val capped = Cached.result(fr.join(keep, Seq("frame_digest"), "left_semi"), fr)
    val sizes = capped.groupBy(col("media_id")).agg(count(lit(1)).as("nset"))
    val pairs = capped.as("a")
      .join(capped.as("b"),
        col("a.frame_digest") === col("b.frame_digest") &&
          col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("ma"), col("b.media_id").as("mb"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val out = pairs
      .join(sizes.select(col("media_id").as("ma"), col("nset").as("na")), Seq("ma"))
      .join(sizes.select(col("media_id").as("mb"), col("nset").as("nb")), Seq("mb"))
      .select(col("ma"), col("mb"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("na"), col("nb")).cast("double")).as("containment"))
    Cached.result(out, capped)
  }

  /** Perceptual-hash signature per media — the banded-pHash layer of the
    * media dedup family. A real pHash thresholds a DCT low-frequency
    * block of the DECODED pixels against its median, which is what makes
    * it survive re-encodes; here the per-frame "perceptual word" is the
    * [[frameSampleStub]] digest (STUB — the documented codec boundary:
    * a real decoder swaps in per-frame pooled features without touching
    * anything downstream), and the media signature is the same 60-bit
    * affine majority vote the wide SimHash uses (`Dedup.wideSignature` —
    * ONE definition, the two signature producers cannot drift). The
    * majority vote is the real robustness the composition adds today:
    * a copy with a FEW altered frames (watermark overlays, spliced
    * intro cards) keeps the majority on every bit, so its signature
    * lands within small hamming distance of the original even when the
    * altered frames break digest-set containment.
    *
    * Media with zero sampled frames (payload shorter than one window)
    * emit no signature — nothing to vote with. Output: (media_id,
    * phash), all-integer, mirrored bit-for-bit by the oracle. */
  def phashStub(media: DataFrame, idCol: String, payloadCol: String,
                stride: Int): DataFrame =
    Dedup.wideSignature(
      frameSampleStub(media, idCol, payloadCol, stride)
        .select(col("media_id").as("doc_id"), col("frame_digest").as("h")))
      .select(col("doc_id").as("media_id"), col("simhash").as("phash"))

  /** Media near-dup by perceptual-hash hamming distance: [[phashStub]]
    * signatures band into the wide layout's 4×15-bit chunks and
    * candidate pairs come ONLY from chunk-bucket collisions (lossless
    * for maxHamming < 4 by the pigeonhole argument), then the exact
    * 60-bit hamming distance filters — `Dedup.bandedHammingPairs`, the
    * SAME banding pipeline as the wide SimHash, so the media family
    * inherits its measured saturation behavior (SCALING.md §2). This
    * catches the copies [[frameNearDup]]'s digest-set containment
    * misses once enough individual frames are perturbed, at the cost of
    * frame-level sub-clip detection — the two are complements, not
    * substitutes. Output: (ma, mb, hamming), ma < mb. */
  def phashPairs(media: DataFrame, idCol: String, payloadCol: String,
                 stride: Int, maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < Dedup.SimhashWideChunks,
      s"banding is only lossless for 0 <= maxHamming < ${Dedup.SimhashWideChunks}, got $maxHamming")
    Dedup.bandedHammingPairs(
      phashStub(media, idCol, payloadCol, stride)
        .select(col("media_id").as("doc_id"), col("phash").as("simhash")),
      Dedup.SimhashWideChunks, Dedup.SimhashWideChunkBits, maxHamming)
      .select(col("da").as("ma"), col("db").as("mb"), col("hamming"))
  }

  /** Incremental media near-dup: (batch_id, corpus_id, n_shared,
    * containment) between NEW media and the ingested library — the
    * media twin of the incremental text/semantic operators, for the
    * ingest question "is this upload a re-encode/trim of something we
    * already store". Same df-capped digest space as [[frameNearDup]]
    * (the cap is computed over batch+corpus TOGETHER, so a frame that
    * is boilerplate across the union is boilerplate for scoring too),
    * but candidates come only from batch×corpus digest collisions —
    * the corpus is never self-joined, and the batch frame set (small
    * next to the library) broadcasts into the collision join.
    * media ids must be unique ACROSS both frames. */
  def incrementalFrameNearDup(newMedia: DataFrame, corpus: DataFrame,
                              idCol: String, payloadCol: String,
                              stride: Int, dfCap: Long, minShared: Long): DataFrame = {
    require(dfCap >= 1 && minShared >= 1,
      s"need dfCap >= 1 and minShared >= 1, got $dfCap, $minShared")
    def frames(df: DataFrame) =
      frameSampleStub(df, idCol, payloadCol, stride)
        .select(col("media_id"), col("frame_digest")).distinct()
    val bf = Cached.result(frames(newMedia))
    val cf = Cached.result(frames(corpus))
    // union-wide stop-frame guard (one aggregate over both frame sets)
    val keep = bf.unionByName(cf).groupBy(col("frame_digest"))
      .agg(count(lit(1)).as("df")).filter(col("df") <= dfCap)
      .select(col("frame_digest"))
    val bk = Cached.result(bf.join(keep, Seq("frame_digest"), "left_semi"))
    val ck = Cached.result(cf.join(keep, Seq("frame_digest"), "left_semi"), bf, cf)
    val bSizes = bk.groupBy(col("media_id")).agg(count(lit(1)).as("nb"))
    val cSizes = ck.groupBy(col("media_id")).agg(count(lit(1)).as("nc"))
    val pairs = broadcast(bk.withColumnRenamed("media_id", "batch_id"))
      .join(ck.withColumnRenamed("media_id", "corpus_id"), Seq("frame_digest"))
      .groupBy(col("batch_id"), col("corpus_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
    val out = pairs
      .join(bSizes.withColumnRenamed("media_id", "batch_id"), Seq("batch_id"))
      .join(cSizes.withColumnRenamed("media_id", "corpus_id"), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"), col("n_shared"),
        (col("n_shared").cast("double") /
          least(col("nb"), col("nc")).cast("double")).as("containment"))
    Cached.result(out, bk, ck)
  }
}
