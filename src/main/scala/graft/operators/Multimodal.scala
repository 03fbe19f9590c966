package graft.operators

import graft.QueryDef
import graft.plans.FanOut
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column operators (builder mandate, alongside SURVEY.md
  * §2.10): image/audio/video travel as opaque `binary` columns with typed
  * metadata; decode / feature-extract / resize / frame-sample run as
  * partition-local batch transforms.
  *
  * The actual codec is STUBBED ([[MediaCodec.Stub]]) — no image/audio
  * libraries exist in this container — but everything Spark-side is real
  * and tested: the binary+metadata schema, the `mapPartitions` batch
  * shape (one codec instance per partition, streamed row batches — the
  * Scala analogue of `mapInPandas`), the native-expression frame
  * sampler, and the partitioning story (binary payloads never shuffle;
  * features are extracted before any wide operation).
  *
  * The binary test corpus derives from `documents.text` (`cast(text AS
  * BINARY)`) so the pipeline runs against the real driver tables at any
  * scale factor.
  */
object Multimodal {

  /** Typed media metadata carried next to the opaque payload. */
  val metadataSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType),
    StructField("sample_rate", IntegerType)))

  /** The codec seam. A real deployment plugs libjpeg/ffmpeg/librosa
    * bindings here; the environment has none, so [[Stub]] computes a
    * deterministic fake "decode" (byte histogram) with the same signature
    * and cost model (one call per payload, partition-local).
    */
  trait MediaCodec extends Serializable {
    /** bytes → fixed-size feature vector (e.g. pooled embedding). */
    def decodeFeatures(bytes: Array[Byte], bins: Int): Array[Float]
  }

  object MediaCodec {
    /** Deterministic fake: L1-normalized byte histogram folded into
      * `bins` buckets. Stands in for a real decoder; NOT a real image
      * decode.
      */
    object Stub extends MediaCodec {
      override def decodeFeatures(bytes: Array[Byte], bins: Int): Array[Float] = {
        val hist = new Array[Float](bins)
        var i = 0
        while (i < bytes.length) {
          hist((bytes(i) & 0xff) % bins) += 1f
          i += 1
        }
        if (bytes.nonEmpty) {
          var k = 0
          while (k < bins) { hist(k) /= bytes.length; k += 1 }
        }
        hist
      }
    }
  }

  /** documents → a media table: (media_id, kind, bytes, meta). Kind fans
    * out deterministically so each modality path has rows at every SF.
    */
  def mediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("bytes"),
      struct(
        concat(lit("application/x-graft-"),
          element_at(array(lit("image"), lit("audio"), lit("video")),
            (pmod(col("doc_id"), lit(3)) + 1).cast("int"))).as("mime"),
        (pmod(col("doc_id"), lit(64)) * 16 + 64).cast("int").as("width"),
        (pmod(col("doc_id"), lit(48)) * 16 + 64).cast("int").as("height"),
        (length(col("text")) * 40L).as("duration_ms"),
        lit(16000).as("sample_rate")).as("meta"))

  /** Decode/feature-extract via the codec seam: partition-local batch
    * transform (the `mapInPandas` analogue) — one codec per partition,
    * rows streamed, output is (media_id, features array<float>). The
    * payload column is consumed here; only the small feature vector
    * continues down the pipeline (never shuffle raw media).
    */
  def extractFeatures(media: DataFrame, codec: MediaCodec = MediaCodec.Stub,
      bins: Int = 16): DataFrame = {
    val session = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    FanOut.scan(media.select("media_id", "bytes"))
      .mapPartitions { rows =>
      // codec initialized once per partition, reused across the batch
      val localCodec = codec
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("bytes")).getOrElse(Array.empty)
        Row(r.getAs[Long]("media_id"),
          localCodec.decodeFeatures(bytes, bins).toSeq)
      }
    }(encoder)
  }

  /** [[extractFeatures]] with the cheap payload metadata the downstream
    * hash/stats stages need emitted from the SAME decode pass:
    * (media_id, kind, n_bytes, features). The payload is in hand while
    * it is decoded — deriving n_bytes here instead of a second media
    * scan + media_id join halves the passes over the binary column for
    * mm2/mm5/mm6 (the join also forced a shuffle of the id axis).
    *
    * NULL payloads are canonicalized to EMPTY at the decode seam
    * (n_bytes = 0, the empty-payload feature vector) — a deliberate
    * divergence from what a `length(bytes)` join would emit (NULL):
    * downstream hash/pairing stages then treat null and genuinely
    * empty payloads as the same degenerate group instead of silently
    * dropping null rows at the first null-rejecting filter.
    */
  def extractFeaturesWithMeta(media: DataFrame,
      codec: MediaCodec = MediaCodec.Stub, bins: Int = 16): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("kind", StringType),
      StructField("n_bytes", LongType, nullable = false),
      StructField("features", ArrayType(FloatType, containsNull = false))))
    val encoder = org.apache.spark.sql.Encoders.row(outSchema)
    FanOut.scan(media.select("media_id", "kind", "bytes"))
      .mapPartitions { rows =>
      val localCodec = codec
      rows.map { r =>
        val bytes = Option(r.getAs[Array[Byte]]("bytes")).getOrElse(Array.empty)
        Row(r.getAs[Long]("media_id"), r.getAs[String]("kind"),
          bytes.length.toLong, localCodec.decodeFeatures(bytes, bins).toSeq)
      }
    }(encoder)
  }

  /** Frame sampling as native expressions: every `stride` bytes yields a
    * `frameLen`-byte "frame" (the chunking pattern of video frame
    * extraction), exploded to (media_id, frame_idx, frame_bytes). Pure
    * Generate — no shuffle, no UDF.
    */
  def sampleFrames(media: DataFrame, frameLen: Int = 64, stride: Int = 256,
      maxFrames: Int = 8): DataFrame = {
    val nFrames = least(
      greatest(floor((length(col("bytes")) - frameLen) / stride) + 1, lit(0)),
      lit(maxFrames)).cast("int")
    // sequence(0, -1) would yield [0, -1] (negative step inferred), so
    // payloads shorter than a frame must map to an empty array — the
    // posexplode then drops the row, which is the intended "no frames".
    val frames = when(nFrames > 0,
      transform(sequence(lit(0), nFrames - 1),
        i => substring(col("bytes"), (i * stride + 1).cast("int"), lit(frameLen))))
      .otherwise(array().cast("array<binary>"))
    media
      .select(col("media_id"), col("bytes"), col("meta"),
        posexplode(frames).as(Seq("frame_idx", "frame_bytes")))
      .select("media_id", "frame_idx", "frame_bytes")
  }

  /** "Resize": deterministic re-bin of a feature vector to a new width
    * (mean-pool adjacent bins) — native `transform`/`aggregate` over the
    * array, the same shape a real thumbnailer's pooled output takes.
    */
  def resizeFeatures(features: DataFrame, from: Int = 16, to: Int = 4): DataFrame = {
    require(from % to == 0)
    val k = from / to
    features.withColumn("features",
      transform(sequence(lit(0), lit(to - 1)), b =>
        aggregate(slice(col("features"), b * k + 1, lit(k)),
          lit(0.0f), (acc, x) => acc + x) / k))
  }

  /** Perceptual hash over the codec seam's pooled features: bit j set
    * iff histogram bin j exceeds the uniform level (the sign-of-
    * deviation construction every pHash variant shares; on a real
    * decoder the bins would be DCT/pooled-patch responses). The bits
    * derive from INTEGER bin counts recovered from the normalized float
    * feature exactly as mm2 does (round(f_j · n_bytes) — error < 0.5),
    * so the hash is integer-exact and cross-engine reproducible:
    * bit_j = [bins · c_j > n_bytes].
    */
  def perceptualHash(media: DataFrame, codec: MediaCodec = MediaCodec.Stub,
      bins: Int = 16): DataFrame = {
    require(bins <= 62, "phash bits must fit a BIGINT")
    val cnt = (j: Int) =>
      round(element_at(col("features"), j + 1).cast("double") *
        col("n_bytes")).cast("long")
    val phash = (0 until bins).map { j =>
      when(cnt(j) * bins > col("n_bytes"), lit(1L) * (1L << j))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    // one decode pass carries n_bytes along — no second media scan, no
    // media_id join/shuffle before the hash
    extractFeaturesWithMeta(media, codec, bins)
      .select(col("media_id"), col("kind"), phash.as("phash"))
  }

  /** Near-dup grouping by perceptual hash within each modality:
    * keep-first semantics (the d6 rule — the group representative is
    * the minimum media id; later members flag `is_dup`). Only the
    * 8-byte hash and ids shuffle — payloads stay partition-local in the
    * decode pass; the representative table is group-count-sized and
    * joins back on the (kind, phash) key. Hamming-radius > 0 matching
    * composes the existing SimHash band machinery over the same hash;
    * exact-bucket (radius 0) is the production default for pHash dedup.
    */
  def phashDupGroups(media: DataFrame, codec: MediaCodec = MediaCodec.Stub,
      bins: Int = 16): DataFrame = {
    val h = perceptualHash(media, codec, bins)
    val reps = h.groupBy(col("kind"), col("phash"))
      .agg(min(col("media_id")).as("group_rep"))
    h.join(reps, Seq("kind", "phash"))
      .select(col("media_id"), col("kind"), col("phash"),
        col("group_rep"), (col("group_rep") < col("media_id")).as("is_dup"))
  }

  /** Same-modality media pairs within Hamming `radius` on the pHash —
    * EXACT, not approximate: the `bins` hash bits slice into `radius+1`
    * contiguous bands, and a pair differing in ≤ radius bits must agree
    * EXACTLY on at least one band (pigeonhole: radius differing bits
    * cannot touch all radius+1 bands). Candidates are the banded equi
    * self-join on (kind, band, band-bits) over the DISTINCT hash table —
    * the d4 SimHash machinery composed over the media hash — and the
    * `bit_count(xor)` filter verifies true distance at HASH granularity,
    * so the band stage bounds COST only, never the answer; verified hash
    * pairs expand to id pairs through two membership equi joins. Shuffle
    * traffic is (kind, band id, 8-byte sliced hash) tuples, one per
    * distinct hash; payloads were consumed at the decode pass and never
    * travel. radius=0 degenerates to [[phashDupGroups]]'s exact-bucket
    * semantics, pair form.
    */
  def phashNearDupPairs(media: DataFrame, codec: MediaCodec = MediaCodec.Stub,
      bins: Int = 16, radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius < bins, "need 0 <= radius < bins")
    // one decode+hash pass, materialized: the hash table is read three
    // times below (distinct hashes + both membership expansions)
    val hashes = perceptualHash(media, codec, bins).localCheckpoint()
    // HASH-granular candidate stage (r15 optimization): the banded self
    // join runs over DISTINCT (kind, phash) values — never over id-level
    // postings. Media hashes collide heavily by design (that is what the
    // dedup is FOR), so the id-level band join shuffled every candidate
    // id pair through a DISTINCT (measured 3.0M candidate rows for 2.0M
    // true pairs from only ~130 distinct hashes per kind at sf0.1); the
    // hash-level join + popcount verify touches one row per distinct
    // hash pair, and the verified pairs then expand to id pairs by two
    // equi joins against the hash table — the output itself is the only
    // quadratic-in-group-size artifact, and it is the answer.
    val hp = verifiedHashPairs(
      hashes.select(col("kind"), col("phash")).distinct(), bins, radius)
    hashes.select(col("kind"), col("phash").as("ha"), col("media_id").as("ia"))
      .join(hp, Seq("kind", "ha"))
      .join(hashes.select(col("kind"), col("phash").as("hb"),
        col("media_id").as("ib")), Seq("kind", "hb"))
      .filter(col("ha") =!= col("hb") || col("ia") < col("ib"))
      .select(col("kind"),
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("hamming"))
  }

  /** All unordered distinct-hash pairs (ha ≤ hb, identity included) within
    * Hamming `radius`, from the pigeonhole band join over a DISTINCT
    * (kind, phash) table: (kind, ha, hb, hamming). The identity pair
    * (h, h) carries the same-hash groups; the caller's expansion decides
    * id ordering. Dedup across bands happens here, at hash granularity.
    */
  private def verifiedHashPairs(dh: DataFrame, bins: Int,
      radius: Int): DataFrame = {
    val posted = bandPostings(dh, bins, radius)
    posted.select(col("kind"), col("band"), col("bv"), col("phash").as("ha"))
      .join(posted.select(col("kind"), col("band"), col("bv"),
        col("phash").as("hb")), Seq("kind", "band", "bv"))
      .filter(col("ha") <= col("hb"))
      .select(col("kind"), col("ha"), col("hb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
  }

  /** The ONE band layout both the full pair join and its delta round
    * post under — sharing it is what makes the delta-vs-full identity
    * structural rather than a comment (a layout tweak cannot diverge
    * the persisted corpus postings from a later delta's).
    *
    * Bits distribute EVENLY across the radius+1 bands (band s covers
    * [s·bins/nSlices, (s+1)·bins/nSlices)): radius < bins ⇒ nSlices ≤
    * bins ⇒ every band holds ≥ 1 bit. A ceil-width layout instead
    * leaves trailing bands EMPTY once radius+1 exceeds bins/width —
    * an empty band's mask is 0, its equi join degenerates to all-pairs
    * same-kind (quadratic candidates, silently), and dropping empty
    * bands would break the pigeonhole completeness proof (radius
    * differing bits CAN touch all of fewer-than-radius+1 bands).
    */
  private def bandPostings(hashed: DataFrame, bins: Int, radius: Int): DataFrame = {
    val nSlices = radius + 1
    val slices = (0 until nSlices).map { s =>
      val lo = (s.toLong * bins / nSlices).toInt
      val width = ((s + 1).toLong * bins / nSlices).toInt - lo
      val mask = ((1L << width) - 1) << lo
      struct(lit(s).as("band"), col("phash").bitwiseAND(lit(mask)).as("bv"))
    }
    hashed.select(col("kind"), col("phash"),
        explode(array(slices: _*)).as("sl"))
      .select(col("kind"), col("phash"),
        col("sl.band").as("band"), col("sl.bv").as("bv"))
  }

  /** Incremental media near-dup ingest — [[phashNearDupPairs]]'s delta
    * round, the fourth modality of the incremental family
    * ([[Dedup.deltaExact]] digests, [[Dedup.deltaJaccardPairs]] text,
    * [[Similarity.nearDupPairsBucketedDelta]] embeddings): all
    * same-kind pairs within Hamming `radius` over `corpus ∪ delta` that
    * touch the delta. The corpus participates only as its persisted
    * (kind, band, band-bits, id, phash) postings — written once at
    * index build from the decode pass, so no corpus media is re-decoded
    * or re-hashed per round; the delta alone decodes, hashes, and
    * posts. Banding is a pure function of the hash and the pigeonhole
    * band cover is complete, so the round is EXACT — the quadratic
    * DuckDB twin restricted to delta-touching pairs is a real oracle
    * (mm8), not a golden. Ids must be unique across both inputs; output
    * contract is [[phashNearDupPairs]]'s (kind, id_a < id_b, hamming).
    */
  def phashNearDupPairsDelta(corpusMedia: DataFrame, deltaMedia: DataFrame,
      codec: MediaCodec = MediaCodec.Stub,
      bins: Int = 16, radius: Int = 1): DataFrame = {
    require(radius >= 0 && radius < bins, "need 0 <= radius < bins")
    // one decode+hash pass per side, materialized (each hash table feeds
    // its distinct-hash postings AND the id-pair expansion below)
    val hC = perceptualHash(corpusMedia, codec, bins).localCheckpoint()
    val hD = perceptualHash(deltaMedia, codec, bins).localCheckpoint()
    // the SHARED bandPostings layout — bit-identical to what the full
    // pair join (and so the persisted corpus index) is built with. Since
    // the r15 hash-granular reshape the persisted artifacts are the
    // DISTINCT-hash postings plus the (kind, phash, media_id) membership
    // table, both written once from the decode pass.
    val postC = bandPostings(
      hC.select(col("kind"), col("phash")).distinct(), bins, radius)
    val postD = bandPostings(
      hD.select(col("kind"), col("phash")).distinct(), bins, radius)
    def hashVerified(pairs: DataFrame): DataFrame = pairs
      .select(col("kind"), col("ha"), col("hb"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long").as("hamming"))
      .distinct()
      .filter(col("hamming") <= radius)
    // delta-hash × corpus-hash candidates (NOT value-ordered: the two
    // hash populations overlap, so every (hd, hc) combination is kept
    // and the expansion normalizes id order) + the delta triangle
    // (value-ordered like the full join, identity pair included)
    val cross = hashVerified(
      postD.select(col("kind"), col("band"), col("bv"), col("phash").as("ha"))
        .join(postC.select(col("kind"), col("band"), col("bv"),
          col("phash").as("hb")), Seq("kind", "band", "bv")))
    val tri = hashVerified(
      postD.select(col("kind"), col("band"), col("bv"), col("phash").as("ha"))
        .join(postD.select(col("kind"), col("band"), col("bv"),
          col("phash").as("hb")), Seq("kind", "band", "bv"))
        .filter(col("ha") <= col("hb")))
    // expansion: cross pairs are (delta member) × (corpus member) — ids
    // are disjoint across the two inputs, so no cross/tri overlap and no
    // terminal distinct; tri pairs expand like the full join
    // PRECONDITION: delta and corpus media ids are disjoint (the
    // append-only ingest contract). The ia =!= ib guard below is a
    // zero-cost no-op under it, and keeps a violating re-ingest from
    // emitting self-pairs (ADVICE r15); duplicate cross/tri id pairs
    // from a violating batch remain the caller's contract to avoid.
    val crossIds = hD
      .select(col("kind"), col("phash").as("ha"), col("media_id").as("ia"))
      .join(cross, Seq("kind", "ha"))
      .join(hC.select(col("kind"), col("phash").as("hb"),
        col("media_id").as("ib")), Seq("kind", "hb"))
      .filter(col("ia") =!= col("ib"))
    val triIds = hD
      .select(col("kind"), col("phash").as("ha"), col("media_id").as("ia"))
      .join(tri, Seq("kind", "ha"))
      .join(hD.select(col("kind"), col("phash").as("hb"),
        col("media_id").as("ib")), Seq("kind", "hb"))
      .filter(col("ha") =!= col("hb") || col("ia") < col("ib"))
    crossIds.unionAll(triIds)
      .select(col("kind"),
        least(col("ia"), col("ib")).as("id_a"),
        greatest(col("ia"), col("ib")).as("id_b"),
        col("hamming"))
  }

  /** The generated phash relation both mm5/mm6 oracles share: per-bin
    * ascii counts (the mm2 character-wise recovery — documents are
    * ASCII) power the same integer bit rule the Stub codec induces;
    * MultimodalSpec pins this bit rule against hand-computed hashes
    * independently of this SQL. */
  private def phashCte(bins: Int, from: String = "documents"): String = {
    val bits = (0 until bins).map { j =>
      s"""CASE WHEN $bins * len(list_filter(string_split(text, ''),
         |      c -> c <> '' AND ascii(c) % $bins = $j)) >
         |      octet_length(encode(text)) THEN ${1L << j} ELSE 0 END""".stripMargin
    }.mkString(" +\n      ")
    s"""m AS (
       |  SELECT doc_id AS media_id,
       |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
       |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
       |    CAST($bits AS BIGINT) AS phash
       |  FROM $from)""".stripMargin
  }

  /** mm5's DuckDB twin, generated: [[phashCte]] + the min-id grouping. */
  private def phashOracleSql(bins: Int): String =
    s"""WITH ${phashCte(bins)},
       |r AS (SELECT kind, phash, min(media_id) AS group_rep
       |      FROM m GROUP BY 1, 2)
       |SELECT m.media_id, m.kind, m.phash, r.group_rep,
       |  r.group_rep < m.media_id AS is_dup
       |FROM m JOIN r ON r.kind = m.kind AND r.phash = m.phash
       |ORDER BY m.media_id""".stripMargin

  /** mm6's DuckDB twin: [[phashCte]] + the quadratic same-kind pair
    * join with a popcount-of-xor distance filter — a REAL oracle (the
    * Spark side is pigeonhole-exact, so the answers must be identical),
    * quadratic only at oracle scale. */
  private def phashPairsOracleSql(bins: Int, radius: Int): String =
    s"""WITH ${phashCte(bins)}
       |SELECT a.kind, a.media_id AS id_a, b.media_id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM m a JOIN m b ON a.kind = b.kind AND a.media_id < b.media_id
       |WHERE bit_count(xor(a.phash, b.phash)) <= $radius
       |ORDER BY a.kind, id_a, id_b""".stripMargin

  /** mm8's DuckDB twin: the md5-id-gate corpus/delta derivation (d20's
    * pattern), [[phashCte]] over the union, and the quadratic popcount
    * pair join RESTRICTED to delta-touching pairs — a real oracle
    * because the delta round is pigeonhole-exact. */
  private def phashDeltaOracleSql(bins: Int, radius: Int): String =
    s"""WITH g AS (
       |  SELECT doc_id, text,
       |    ('0x' || substring(md5(doc_id::VARCHAR || '#mmd'), 1, 8))::UBIGINT
       |      % 1000 AS u
       |  FROM documents),
       |un AS (
       |  SELECT doc_id, text FROM g WHERE u < 500
       |  UNION ALL
       |  SELECT doc_id + 1000002 AS doc_id, text FROM g
       |  WHERE u >= 350 AND u < 650),
       |${phashCte(bins, from = "un")}
       |SELECT a.kind, a.media_id AS id_a, b.media_id AS id_b,
       |  CAST(bit_count(xor(a.phash, b.phash)) AS BIGINT) AS hamming
       |FROM m a JOIN m b ON a.kind = b.kind AND a.media_id < b.media_id
       |WHERE (a.media_id >= 1000000 OR b.media_id >= 1000000)
       |  AND bit_count(xor(a.phash, b.phash)) <= $radius
       |ORDER BY a.kind, id_a, id_b""".stripMargin

  def defs: Map[String, QueryDef] = Map(
    // perceptual-hash near-dup over the codec seam — modality-scoped
    // keep-first grouping on the integer-exact 16-bit pHash.
    "mm5_phash_dedup" -> QueryDef.sql(phashOracleSql(16)) { (s, d) =>
      phashDupGroups(mediaFromDocuments(graft.Tables.documents(s, d)))
        .orderBy("media_id")
    },

    // Hamming-radius-1 media near-dup pairs: pigeonhole band join +
    // exact popcount verify (EXACT, so the quadratic DuckDB twin is a
    // real oracle, not a golden).
    "mm6_phash_radius" -> QueryDef.sql(phashPairsOracleSql(16, 1)) { (s, d) =>
      phashNearDupPairs(mediaFromDocuments(graft.Tables.documents(s, d)),
          bins = 16, radius = 1)
        .orderBy("kind", "id_a", "id_b")
    },

    // the same pigeonhole machinery at the PRODUCTION hash width — 62
    // bits (the BIGINT ceiling), radius 2 → three even 21/21/20-bit
    // bands; oracle = the same quadratic popcount twin at oracle
    // scale. Soak-measured honesty note (SCALE.md): width alone does
    // NOT bound pair growth under the Stub codec (sparse byte
    // histograms on short texts collide at any width — output
    // exponent 1.67 at ×10) but the banded machinery stays
    // sub-output-proportional (time exponent 0.52); the textbook
    // O(1)-occupancy claim belongs to a real decoder's uniform
    // DCT-style bits, which the codec seam accepts unchanged.
    "mm7_phash_radius_wide" -> QueryDef.sql(phashPairsOracleSql(62, 2)) { (s, d) =>
      phashNearDupPairs(mediaFromDocuments(graft.Tables.documents(s, d)),
          bins = 62, radius = 2)
        .orderBy("kind", "id_a", "id_b")
    },

    // mm6's incremental-ingest round (the media leg of the d18/d20/s30
    // delta family): the md5-id-gate recrawl delta decodes, hashes, and
    // band-posts ALONE, probing the corpus's persisted band postings +
    // its own triangle. Pigeonhole-exact ⇒ real restricted-quadratic
    // oracle.
    "mm8_phash_delta" -> QueryDef.sql(phashDeltaOracleSql(16, 1)) { (s, d) =>
      val docs = graft.Tables.documents(s, d)
      def u = conv(substring(
          md5(concat(col("doc_id").cast("string"), lit("#mmd"))), 1, 8),
        16, 10).cast("long") % 1000
      val corpus = docs.filter(u < 500).select("doc_id", "text")
      val delta = docs.filter(u >= 350 && u < 650)
        .select((col("doc_id") + 1000002L).as("doc_id"), col("text"))
      phashNearDupPairsDelta(mediaFromDocuments(corpus),
          mediaFromDocuments(delta), bins = 16, radius = 1)
        .orderBy("kind", "id_a", "id_b")
    },

    // binary-column stats with a DuckDB oracle (octet_length over the
    // same utf-8 payload)
    "mm1_media_stats" -> QueryDef.sql(
      """SELECT CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |            WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |  count(*) AS cnt, CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes
        |FROM documents GROUP BY 1 ORDER BY kind""".stripMargin) { (s, d) =>
      mediaFromDocuments(graft.Tables.documents(s, d))
        .groupBy("kind")
        .agg(count(lit(1)).as("cnt"),
          sum(length(col("bytes"))).as("total_bytes"))
        .orderBy("kind")
    },

    // decode path, oracle-checked: the stub codec's bin-0 histogram count
    // is recovered integer-exactly from the normalized float feature
    // (round(f0 · n_bytes) — float error < 1 ulp · n_bytes ≪ 0.5), and
    // DuckDB recomputes it character-wise (documents are ASCII, so byte
    // values ≡ ascii codes).
    "mm2_decode_features" -> QueryDef.sql(
      """SELECT doc_id AS media_id,
        |  CAST(len(list_filter(string_split(text, ''),
        |       c -> c <> '' AND ascii(c) % 16 = 0)) AS BIGINT) AS f0_count,
        |  CAST(16 AS INT) AS dim,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
        |FROM documents ORDER BY media_id""".stripMargin) { (s, d) =>
      val media = mediaFromDocuments(graft.Tables.documents(s, d))
      extractFeaturesWithMeta(media)
        .select(col("media_id"),
          round(element_at(col("features"), 1).cast("double") * col("n_bytes"))
            .cast("long").as("f0_count"),
          size(col("features")).as("dim"),
          col("n_bytes"))
        .orderBy("media_id")
    },

    // size-budgeted media batching: concatenate-then-split packing per
    // modality — each row lands in the batch its START offset falls in
    // (floor((cum − size)/B)), the exact shape token-packing uses, here
    // over payload bytes so decode batches bound their memory. The
    // running offset is the two-phase distributed prefix sum
    // (Scale.groupRunningSum) — no per-modality single task; the oracle
    // is the serial window twin.
    "mm4_media_batches" -> QueryDef.sql(
      """WITH m AS (
        |  SELECT doc_id AS media_id,
        |    CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
        |         WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    octet_length(encode(text)) AS blen
        |  FROM documents),
        |c AS (SELECT *, sum(blen) OVER (PARTITION BY kind
        |    ORDER BY media_id ROWS UNBOUNDED PRECEDING) AS cum FROM m)
        |SELECT kind, CAST((cum - blen) // 65536 AS BIGINT) AS batch_id,
        |  CAST(count(*) AS BIGINT) AS n_items,
        |  CAST(sum(blen) AS BIGINT) AS total_bytes
        |FROM c GROUP BY 1, 2
        |ORDER BY kind, batch_id""".stripMargin) { (s, d) =>
      val m = mediaFromDocuments(graft.Tables.documents(s, d))
        .select(col("media_id"), col("kind"),
          length(col("bytes")).cast("long").as("blen"))
      Scale.groupRunningSum(m, "kind", orderCol = "media_id",
          idCol = "media_id", weightCol = "blen", outCol = "cum")
        .withColumn("batch_id", expr("(cum - blen) div 65536"))
        .groupBy("kind", "batch_id")
        .agg(count(lit(1)).as("n_items"), sum("blen").as("total_bytes"))
        .orderBy("kind", "batch_id")
    },

    // frame chunking, oracle-checked: DuckDB mirrors the stride/length
    // arithmetic over octet_length (kind 'video' ⇔ doc_id % 3 = 2, cf.
    // mediaFromDocuments)
    "mm3_frame_sample" -> QueryDef.sql(
      """WITH f AS (
        |  SELECT doc_id AS media_id, octet_length(encode(text)) AS blen,
        |    least(greatest(CAST(floor((octet_length(encode(text)) - 64) / 256.0) AS BIGINT) + 1, 0), 8) AS nf
        |  FROM documents WHERE doc_id % 3 = 2)
        |SELECT media_id, CAST(i AS INT) AS frame_idx,
        |  CAST(least(64, blen - i * 256) AS INT) AS frame_len
        |FROM (SELECT media_id, blen, unnest(range(nf)) AS i FROM f)
        |ORDER BY media_id, frame_idx""".stripMargin) { (s, d) =>
      val media = mediaFromDocuments(graft.Tables.documents(s, d))
        .filter(col("kind") === "video")
      sampleFrames(media)
        .select(col("media_id"), col("frame_idx"),
          length(col("frame_bytes")).as("frame_len"))
        .orderBy("media_id", "frame_idx")
    }
  )
}
