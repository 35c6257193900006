package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Image perceptual-hash dedup: dHash (difference hash) signatures over
  * decoded bitmaps, Hamming-banded candidate generation, exact-Hamming
  * verification — the standard near-duplicate-image shape for a training
  * corpus (byte-identical copies are caught by payload hashing; dHash
  * additionally catches re-encodes, resizes and slight edits, which
  * dominate real web image duplication).
  *
  * dHash convention (fixed — committed fixtures depend on it): the image
  * is average-pooled to a 9-wide × 8-tall luminance grid (Rec.601 luma,
  * floor-boundary cells: pixel row r → grid row r·8/h, col c → c·9/w);
  * bit `r·8 + c` of the 64-bit hash is set iff grid cell (r, c+1) is
  * strictly brighter than (r, c) — 8 horizontal comparisons per row.
  * Gradient direction survives brightness/contrast shifts and resampling,
  * which is what makes dHash a perceptual (not cryptographic) hash.
  *
  * Decode coverage mirrors [[Multimodal]]: uncompressed 24-bit BMP by
  * byte arithmetic (both bottom-up and top-down row orders), JPEG / PNG /
  * GIF via the JDK's headless ImageIO. Non-image or sub-9×8 payloads
  * produce no signature (they cannot carry the 8×8 comparison grid).
  *
  * Scale shape: hashing is one partition-wise decode pass (the payload
  * never shuffles — 8 bytes of signature per image leave the scan);
  * pairing reuses [[Dedup.hammingBandPairs]] — 4×16-bit chunk banding
  * with the bucket-size skew cap, exact `bit_count` verify, and an
  * identical-hash pre-pass so mass-duplicate images surface as O(cluster)
  * star pairs instead of blowing a bucket.
  */
object PerceptualHash {

  /** Streaming accumulator for the 8×9 pooled luminance grid: pixels are
    * added row-by-row (no full-image luminance array is materialized) and
    * the hash falls out of 64 adjacent-cell comparisons.
    */
  private final class PoolGrid(w: Int, h: Int) {
    private val sums = new Array[Double](72)
    private val counts = new Array[Long](72)

    def add(imageRow: Int, col: Int, luma: Double): Unit = {
      val cell = (imageRow.toLong * 8 / h).toInt * 9 + (col.toLong * 9 / w).toInt
      sums(cell) += luma
      counts(cell) += 1
    }

    def hash: Long = {
      var hv = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          val left = sums(r * 9 + c) / counts(r * 9 + c)
          val right = sums(r * 9 + c + 1) / counts(r * 9 + c + 1)
          if (right > left) hv |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      hv
    }
  }

  private def luma(r: Int, g: Int, b: Int): Double =
    0.299 * r + 0.587 * g + 0.114 * b

  /** dHash of an uncompressed 24-bit BMP — header validation is the
    * shared hardened gate [[Multimodal.bmpHeader]] (one place for
    * adversarial-header fixes); this walk only consumes pixels. BMP rows
    * are bottom-up when the header height is positive — the walk maps
    * file rows to image rows so the hash is orientation-correct either
    * way.
    */
  private[graft] def dhashBmp(p: Array[Byte]): Option[Long] = {
    val (dataOffset, width, heightRaw, rowSize) = Multimodal.bmpHeader(p).getOrElse(return None)
    val height = math.abs(heightRaw)
    if (width < 9 || height < 8) return None
    val grid = new PoolGrid(width, height)
    var fileRow = 0
    while (fileRow < height) {
      val imageRow = if (heightRaw > 0) height - 1 - fileRow else fileRow
      val base = dataOffset + fileRow * rowSize
      var c = 0
      while (c < width) {
        grid.add(imageRow, c, luma(
          p(base + c * 3 + 2) & 0xff, // R
          p(base + c * 3 + 1) & 0xff, // G
          p(base + c * 3) & 0xff))    // B
        c += 1
      }
      fileRow += 1
    }
    Some(grid.hash)
  }

  /** dHash via ImageIO (JPEG/PNG/GIF — headless JDK decode), one row of
    * ARGB ints at a time to bound allocation on large images.
    */
  private[graft] def dhashImageIO(p: Array[Byte]): Option[Long] = {
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(p))
      if (img == null) return None
      val w = img.getWidth; val h = img.getHeight
      if (w < 9 || h < 8) return None
      val grid = new PoolGrid(w, h)
      val rowBuf = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var x = 0
        while (x < w) {
          val argb = rowBuf(x)
          grid.add(y, x, luma((argb >>> 16) & 0xff, (argb >>> 8) & 0xff, argb & 0xff))
          x += 1
        }
        y += 1
      }
      Some(grid.hash)
    } catch {
      case _: Exception => None // corrupt payload → no signature
    }
  }

  /** dHash of an image payload, format-sniffed: BMP by byte arithmetic,
    * JPEG/PNG/GIF via ImageIO; None for everything else.
    */
  def dhash(p: Array[Byte]): Option[Long] =
    if (p == null) None
    else if (p.length >= 2 && p(0) == 'B' && p(1) == 'M') dhashBmp(p)
    else if (Multimodal.imageFormat(p).isDefined) dhashImageIO(p)
    else None

  private val sigSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("phash", LongType, nullable = false)))

  /** (media_id, phash) signatures for every decodable image in a media
    * frame — one partition-wise decode pass (ImageIO is per-partition
    * native state, the same justification as [[Multimodal.extractFeatures]]);
    * only the 8-byte signature leaves the scan. Non-image rows are
    * dropped (a near-dup pass over mixed media dedups what it can hash).
    */
  def signatures(
      media: DataFrame,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame = {
    val spark = media.sparkSession
    val rdd = media.select(col(idCol).cast("long"), col(payloadCol)).rdd
      .mapPartitions(_.flatMap { r =>
        if (r.isNullAt(0) || r.isNullAt(1)) None
        else dhash(r.getAs[Array[Byte]](1)).map(h => Row(r.getLong(0), h))
      })
    spark.createDataFrame(rdd, sigSchema)
  }

  /** Near-duplicate image pairs: (doc_a, doc_b, hamming) with
    * doc_a < doc_b and Hamming distance ≤ `maxHamming` between dHashes.
    *
    * Identical-hash clusters are pre-collapsed to their min-id
    * representative and emitted as linear star pairs (hamming 0) — the
    * same pre-pass as [[Dedup.simhash]], so a corpus with millions of
    * byte-identical thumbnails reports its duplicates in O(cluster) pairs
    * and banding only ever compares DISTINCT hashes. Banding guarantees
    * full recall for `maxHamming < 4` (4 chunks, pigeonhole); above that
    * it is approximate in the usual LSH sense.
    */
  def dedup(
      media: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame =
    // Lineage cut: the signature frame feeds three consumers (identical-
    // hash window, banding join sides) — without it every consumer
    // re-DECODES the corpus, and decode dominates this operator's cost.
    dedupFromSignatures(
      graft.plans.Materialize(signatures(media, idCol, payloadCol)),
      maxHamming, maxBucketSize)

  /** Incremental image near-dup: a shard of media against the PERSISTED
    * signature index of the corpus ([[signatures]] output, written once
    * per corpus) — completes the shard-ingest story the text/embedding/
    * semantic/substring/url families already have. Only the shard is
    * DECODED — decode dominates this operator's cost by orders of
    * magnitude, and the corpus contributes its 8-byte signatures. The
    * signature-level banding does re-run over the union's thin
    * (id, hash) rows: the documented trade for exact parity with the
    * one-shot run, since a small-id shard doc can take over a hash
    * cluster's representative and re-shape its star pairs.
    *
    * @return (doc_a, doc_b, hamming) — exactly [[dedup]] over
    *         (corpus ∪ shard) restricted to pairs touching ≥1 shard id
    *         (parity asserted in ExtensionsSpec). Shard ids must be
    *         disjoint from corpus ids.
    */
  def dedupIncremental(
      shard: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256,
      idCol: String = "media_id",
      payloadCol: String = "payload"
  ): DataFrame = {
    dedupIncrementalSigs(
      graft.plans.Materialize(signatures(shard, idCol, payloadCol)),
      corpusSigs, maxHamming, maxBucketSize)
  }

  /** [[dedupIncremental]] when the SHARD's signatures are already in
    * hand (e.g. the shard-ingest step just persisted them as its state
    * increment) — skips the second decode of the shard payloads, which
    * dominates this operator's cost. Both frames are [[signatures]]
    * output; shard ids must be disjoint from corpus ids.
    */
  def dedupIncrementalSigs(
      shardSigs: DataFrame,
      corpusSigs: DataFrame,
      maxHamming: Int = 2,
      maxBucketSize: Int = 256
  ): DataFrame = {
    require(corpusSigs.columns.sorted.sameElements(Array("media_id", "phash")),
      s"not a signatures frame (columns ${corpusSigs.columns.mkString(",")}); " +
        "build it with PerceptualHash.signatures")
    require(shardSigs.columns.sorted.sameElements(Array("media_id", "phash")),
      s"not a signatures frame (columns ${shardSigs.columns.mkString(",")}); " +
        "build it with PerceptualHash.signatures")
    Dedup.sigDedupIncremental(
      shardSigs.select(col("media_id").cast("long"), col("phash").cast("long").as("sig")),
      corpusSigs.select(col("media_id").cast("long"), col("phash").cast("long").as("sig")),
      maxHamming, maxBucketSize)
  }

  private def dedupFromSignatures(
      sigs: DataFrame,
      maxHamming: Int,
      maxBucketSize: Int
  ): DataFrame =
    // The shared 64-bit-signature core (Dedup.sigDedupPairs) — one
    // implementation for the image and audio families.
    Dedup.sigDedupPairs(
      sigs.select(col("media_id"), col("phash").as("sig")),
      maxHamming, maxBucketSize)
}
