package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables

/** Multimodal column plumbing (SURVEY.md §2 F1–F3).
  *
  * Media payloads are opaque `binary` columns plus typed metadata — the
  * 100 TB pattern is: keep bytes columnar in parquet, push *metadata*
  * filters down, and run decode/feature-extraction per partition in
  * batch-shaped iterators (mapPartitions), never per-row driver calls.
  *
  * The codec: [[ImageCodec]] is a REAL pure-JDK image decoder
  * (PNG/JPEG/BMP/GIF via `javax.imageio`, headless-safe) for features,
  * resample, and perceptual dHash; `decodeStub` remains the
  * deterministic fallback for non-image/corrupt bytes (and the fixture
  * for this repo's text-bytes corpus), so one operator survives a
  * mixed/dirty 100 TB payload column. Audio/video codecs stay stubbed
  * (no pure-JDK decoder exists); the injectable seams are their
  * interface.
  */
object Multimodal {

  // F1 — binary ingest: payload + typed metadata struct. Oracle-checked
  // (byte lengths and metadata survive the binary round-trip).
  private val m1 = Relational.Q(
    "m1_binary_ingest",
    (s, d) => {
      Tables.documents(s, d)
        .select(col("doc_id"),
          col("text").cast(BinaryType).as("payload"),
          struct(col("lang"), col("source"), col("n_chars")).as("meta"))
        .select(col("doc_id"),
          octet_length(col("payload")).cast("long").as("payload_bytes"),
          col("meta.lang").as("lang"),
          col("meta.source").as("source"),
          lit("text/plain").as("mime"))
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id, octet_length(CAST(text AS BLOB)) AS payload_bytes,
        lang, source, 'text/plain' AS mime
      FROM documents ORDER BY doc_id"""))

  /** STUB decoder: stands in for an image/audio codec. Deterministic fake
    * features — 8 stride-summed byte buckets, normalized. The real system
    * would swap this single function for a JNI/codec call; the Spark
    * plumbing around it is unchanged.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val dim = 8
    val acc = new Array[Long](dim)
    var i = 0
    while (i < bytes.length) {
      acc(i % dim) += bytes(i) & 0xff
      i += 1
    }
    acc.map(v => (v % 997).toFloat / 997f)
  }

  final case class DocPayload(doc_id: Long, payload: Array[Byte])
  final case class DocFeatures(doc_id: Long, n_bytes: Int, features: Array[Float])

  /** F2 core — batch-shaped "decode" over partitions of binary payloads. */
  def extractFeatures(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions { it =>
        // One iterator pass per partition: the decode batch shape a real
        // codec (or model server) wants; no per-row driver round-trips.
        it.map { p =>
          DocFeatures(p.doc_id, p.payload.length, decodeStub(p.payload))
        }
      }
      .toDF()
  }

  /** PLANTED payload for the m2/m5/m9 decode-seam oracles (the m16/t32
    * plant-and-replay pattern): a run of ONE repeated ASCII byte
    * c = 65 + doc_id%26 of length L = doc_id%50 + 8, derived entirely
    * from doc_id arithmetic. [[decodeStub]]'s bucket k then holds
    * (c · count_k) mod 997 with count_k = floor((L-1-k)/8)+1 — integer-
    * exact, SQL-replayable. Pushing the plant through each REAL decode
    * path (per-row mapPartitions, Seq-batched, Arrow-columnar) makes the
    * driver oracle pin the whole plumbing: a dropped row, a batch
    * misalignment, a torn Arrow buffer, or a broken stride sum flips the
    * per-doc hash red.
    */
  private def plantedPayloads(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"),
      encode(expr("repeat(char(65 + doc_id % 26), CAST(doc_id % 50 + 8 AS INT))"),
        "UTF-8").as("payload"))

  /** The shared gate projection: features re-integerized ((v%997)/997f
    * is injective for v in 0..996 under float32, so round(f·997)
    * recovers the exact bucket residue both engines agree on).
    */
  private def decodeGateFrame(decoded: DataFrame): DataFrame =
    decoded.select(col("doc_id"), col("n_bytes").cast("long").as("n_bytes"),
        size(col("features")).cast("long").as("n_features"),
        round(element_at(col("features"), 1) * 997).cast("long").as("f0_int"),
        round(element_at(col("features"), 8) * 997).cast("long").as("f7_int"))
      .persist()
      .orderBy(col("doc_id"))

  private val DecodeGateOracle = """
      WITH g AS (
        SELECT doc_id, 65 + doc_id % 26 AS c, doc_id % 50 + 8 AS l
        FROM documents)
      SELECT doc_id,
        CAST(l AS BIGINT) AS n_bytes,
        CAST(8 AS BIGINT) AS n_features,
        CAST((c * ((l - 1) // 8 + 1)) % 997 AS BIGINT) AS f0_int,
        CAST((c * ((l - 8) // 8 + 1)) % 997 AS BIGINT) AS f7_int
      FROM g ORDER BY doc_id"""

  // F2 — PROMOTED to a full oracle (r11 verdict item 2): the verify
  // frame decodes the PLANTED payloads through the real per-row
  // mapPartitions path and DuckDB replays every column from doc_id
  // arithmetic. benchFn keeps the corpus-text spelling (the production
  // decode pass BENCH times). The decode result is persisted BEFORE the
  // global sort: orderBy plans a range-partitioning sampling pass that
  // would otherwise evaluate the decoder twice per run (double
  // inference calls with a real model).
  private def m2Corpus(s: SparkSession, d: String): DataFrame = {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
    extractFeatures(payloads)
      .select(col("doc_id"), col("n_bytes"), size(col("features")).as("n_features"),
        element_at(col("features"), 1).as("f0"))
      .persist()
      .orderBy(col("doc_id"))
  }

  private val m2 = Relational.Q(
    "m2_feature_extract",
    (s, d) => decodeGateFrame(extractFeatures(plantedPayloads(s, d))),
    Some(DecodeGateOracle),
    benchFn = Some(m2Corpus _))

  /** STUB vectorized decoder: one call per BATCH of payloads — the
    * signature a GPU model server / vectorized codec exposes. The stub
    * delegates per element; a real system replaces this one function
    * with a single batched inference call.
    */
  def batchDecodeStub(batch: Seq[Array[Byte]]): Seq[Array[Float]] =
    batch.map(decodeStub)

  /** F5 core — MICRO-BATCHED decode: each partition's rows are grouped
    * into `batchSize` slices and the (stub) vectorized decoder runs once
    * per slice — the Scala equivalent of mapInArrow/mapInPandas batch
    * plumbing: bounded memory per call, one model-server round-trip per
    * batch rather than per row, iterator-lazy end to end. `decoder` is
    * injectable so specs can instrument call counts/shapes.
    */
  def extractFeaturesBatched(payloads: DataFrame, batchSize: Int = 64,
      decoder: Seq[Array[Byte]] => Seq[Array[Float]] = batchDecodeStub): DataFrame = {
    require(batchSize >= 1)
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val feats = decoder(batch.map(_.payload))
          require(feats.length == batch.length,
            s"decoder returned ${feats.length} results for ${batch.length} inputs")
          batch.lazyZip(feats).map { (p, f) =>
            DocFeatures(p.doc_id, p.payload.length, f)
          }
        }
      }
      .toDF()
  }

  // F5 — PROMOTED to a full oracle like F2, through the Seq-BATCHED
  // path (a batch/row misalignment in the grouped decode scrambles
  // (doc_id, features) pairs and flips the hash). The spec still pins
  // batched == unbatched output and the batch-size contract.
  // persist-before-sort for the same single-decode reason as F2 — here a
  // double evaluation would double the per-batch model-server calls the
  // operator exists to bound.
  private def m5Corpus(s: SparkSession, d: String): DataFrame = {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
    extractFeaturesBatched(payloads)
      .select(col("doc_id"), col("n_bytes"), size(col("features")).as("n_features"),
        element_at(col("features"), 1).as("f0"))
      .persist()
      .orderBy(col("doc_id"))
  }

  private val m5 = Relational.Q(
    "m5_feature_extract_batched",
    (s, d) => decodeGateFrame(extractFeaturesBatched(plantedPayloads(s, d))),
    Some(DecodeGateOracle),
    benchFn = Some(m5Corpus _))

  /** F9 — ARROW-COLUMNAR decode exchange: the modernized spelling of F5.
    *
    * API FINDING (closes the m5 backlog item): Spark 4.1 exposes
    * `mapInArrow` ONLY in PySpark — on the JVM the arrow bridge
    * (`org.apache.spark.sql.execution.arrow.ArrowConverters`) is
    * `private[sql]`, so no public Scala API hands a columnar Arrow
    * batch through a Dataset transform. The public JVM path is the
    * Arrow JAVA API itself (arrow-vector ships in Spark's own
    * classpath for the Python bridge): build the batch at the seam.
    *
    * So this operator keeps Spark's row iterator at the boundary (the
    * only public surface) and makes the DECODER exchange columnar: each
    * `batchSize` slice becomes ONE Arrow VectorSchemaRoot — doc_id as a
    * BigIntVector, payloads as a VarBinaryVector (contiguous buffer +
    * offsets, exactly the wire layout mapInArrow would hand a Python
    * worker) — and the decoder returns a root of (doc_id, n_bytes,
    * features list<float4>). That is the zero-copy hand-off a
    * vectorized codec / JNI model server actually consumes: one
    * contiguous buffer per batch, no per-row JVM object churn inside
    * the decode call. Allocator lifecycle is per batch and airtight
    * (close verifies zero leaked buffers — an Arrow allocator leak is a
    * test failure, not a slow executor death).
    */
  def extractFeaturesArrow(payloads: DataFrame, batchSize: Int = 64,
      decoder: (org.apache.arrow.vector.VectorSchemaRoot, org.apache.arrow.memory.BufferAllocator) =>
        org.apache.arrow.vector.VectorSchemaRoot = arrowDecodeStub): DataFrame = {
    require(batchSize >= 1)
    import org.apache.arrow.memory.RootAllocator
    import org.apache.arrow.vector.{BigIntVector, VarBinaryVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.ListVector
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions { it =>
        it.grouped(batchSize).flatMap { batch =>
          val alloc = new RootAllocator(Long.MaxValue)
          val ids = new BigIntVector("doc_id", alloc)
          val pays = new VarBinaryVector("payload", alloc)
          ids.allocateNew(batch.size)
          pays.allocateNew(batch.map(_.payload.length.toLong).sum, batch.size)
          batch.zipWithIndex.foreach { case (p, i) =>
            ids.setSafe(i, p.doc_id); pays.setSafe(i, p.payload)
          }
          ids.setValueCount(batch.size); pays.setValueCount(batch.size)
          val in = new VectorSchemaRoot(
            java.util.Arrays.asList[org.apache.arrow.vector.FieldVector](ids, pays))
          in.setRowCount(batch.size)
          try {
            val out = decoder(in, alloc)
            try {
              require(out.getRowCount == batch.size,
                s"decoder returned ${out.getRowCount} rows for ${batch.size} inputs")
              val oid = out.getVector("doc_id").asInstanceOf[BigIntVector]
              val onb = out.getVector("n_bytes").asInstanceOf[BigIntVector]
              val ofe = out.getVector("features").asInstanceOf[ListVector]
              import scala.jdk.CollectionConverters._
              // materialize BEFORE the buffers close — the flatMap result
              // must not lazily read freed Arrow memory
              (0 until out.getRowCount).map { i =>
                val fs = ofe.getObject(i).asScala
                  .map(_.asInstanceOf[java.lang.Float].floatValue).toArray
                DocFeatures(oid.get(i), onb.get(i).toInt, fs)
              }.toVector
            } finally out.close()
          } finally { in.close(); alloc.close() }
        }
      }
      .toDF()
  }

  /** Columnar stub decoder: consumes the input root VECTOR-WISE (offsets
    * + contiguous payload buffer) and writes an output root — the same
    * deterministic 8-bucket features as [[decodeStub]], so every decode
    * spelling (per-row F2, Seq-batched F5, Arrow F9) is comparable
    * row for row. A real system replaces THIS function with the
    * vectorized codec / model-server call; the plumbing stands.
    */
  def arrowDecodeStub(in: org.apache.arrow.vector.VectorSchemaRoot,
      alloc: org.apache.arrow.memory.BufferAllocator): org.apache.arrow.vector.VectorSchemaRoot = {
    import org.apache.arrow.vector.{BigIntVector, VarBinaryVector, VectorSchemaRoot}
    import org.apache.arrow.vector.complex.ListVector
    val ids = in.getVector("doc_id").asInstanceOf[BigIntVector]
    val pays = in.getVector("payload").asInstanceOf[VarBinaryVector]
    val n = in.getRowCount
    val outIds = new BigIntVector("doc_id", alloc)
    val outNb = new BigIntVector("n_bytes", alloc)
    val outFe = ListVector.empty("features", alloc)
    outIds.allocateNew(n); outNb.allocateNew(n); outFe.allocateNew()
    val w = outFe.getWriter
    var i = 0
    while (i < n) {
      val bytes = pays.get(i)
      outIds.setSafe(i, ids.get(i))
      outNb.setSafe(i, bytes.length.toLong)
      w.setPosition(i)
      w.startList()
      val fs = decodeStub(bytes)
      var j = 0
      while (j < fs.length) { w.float4().writeFloat4(fs(j)); j += 1 }
      w.endList()
      i += 1
    }
    outIds.setValueCount(n); outNb.setValueCount(n); outFe.setValueCount(n)
    val root = new VectorSchemaRoot(
      java.util.Arrays.asList[org.apache.arrow.vector.FieldVector](outIds, outNb, outFe))
    root.setRowCount(n)
    root
  }

  // F9 — PROMOTED to a full oracle like F2/F5, through the ARROW
  // exchange (an offsets-buffer bug in the VarBinaryVector hand-off or
  // a row-count mismatch in the returned root flips the hash). The
  // spec still pins Arrow == Seq-batched == per-row outputs and the
  // batch/allocator contracts. persist-before-sort for F2's
  // single-decode reason.
  private def m9Corpus(s: SparkSession, d: String): DataFrame = {
    val payloads = Tables.documents(s, d)
      .select(col("doc_id"), col("text").cast(BinaryType).as("payload"))
    extractFeaturesArrow(payloads)
      .select(col("doc_id"), col("n_bytes"), size(col("features")).as("n_features"),
        element_at(col("features"), 1).as("f0"))
      .persist()
      .orderBy(col("doc_id"))
  }

  private val m9 = Relational.Q(
    "m9_feature_extract_arrow",
    (s, d) => decodeGateFrame(extractFeaturesArrow(plantedPayloads(s, d))),
    Some(DecodeGateOracle),
    benchFn = Some(m9Corpus _))

  // F3 — frame array + posexplode + every-k-th sampling (video-frame
  // shaped pipeline; frames here are 64-byte payload chunks).
  private val m3 = Relational.Q(
    "m3_frame_sample",
    (s, d) => {
      val frameLen = 64
      val framed = Tables.documents(s, d)
        .select(col("doc_id"),
          transform(
            sequence(lit(0), floor((length(col("text")) - lit(1)) / lit(frameLen)).cast("integer")),
            i => col("text").substr(lit(1) + i * frameLen, lit(frameLen)).cast(BinaryType))
            .as("frames"))
      framed.select(col("doc_id"), posexplode(col("frames")).as(Seq("frame_idx", "frame")))
        .filter(col("frame_idx") % 4 === 0)
        .select(col("doc_id"), col("frame_idx").cast("long").as("frame_idx"),
          octet_length(col("frame")).cast("long").as("frame_bytes"))
        .orderBy(col("doc_id"), col("frame_idx"))
    },
    Some("""
      WITH framed AS (
        SELECT doc_id, i AS frame_idx,
          octet_length(CAST(substr(text, 1 + i * 64, 64) AS BLOB)) AS frame_bytes
        FROM documents, UNNEST(range(0, CAST(FLOOR((length(text) - 1) / 64) AS BIGINT) + 1)) AS t(i))
      SELECT doc_id, frame_idx, frame_bytes
      FROM framed WHERE frame_idx % 4 = 0
      ORDER BY doc_id, frame_idx"""))

  final case class MediaIn(doc_id: Long, payload: Array[Byte], in_w: Long, in_h: Long)
  final case class MediaOut(doc_id: Long, in_w: Long, in_h: Long,
      out_w: Long, out_h: Long, out_bytes: Long)

  /** STUB resampler: stands in for an image resize. Output length follows
    * the pixel-ratio exactly (max(1, n*outW*outH/(inW*inH)), long
    * arithmetic) and bytes are a deterministic stride subsample — a real
    * codec swaps this one function, the batch plumbing stays.
    */
  def resizeStub(bytes: Array[Byte], inW: Long, inH: Long,
      outW: Long, outH: Long): Array[Byte] = {
    val target = math.max(1L, bytes.length.toLong * outW * outH / (inW * inH)).toInt
    if (target >= bytes.length) bytes
    else Array.tabulate(target)(i => bytes((i.toLong * bytes.length / target).toInt))
  }

  /** F4 core — fit-to-box resize over partitions: scale = min(maxW/w,
    * maxH/h, 1) (never upscale), output dims floored with a 1-pixel
    * minimum. Dimension math is plain IEEE double + integer ops, so the
    * driver oracle checks it bit-exactly; only the pixel resample itself
    * is the declared stub.
    */
  def resizeToBox(media: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("doc_id"), col("payload"), col("in_w"), col("in_h"))
      .as[MediaIn]
      .mapPartitions { it =>
        it.map { m =>
          val scale = math.min(math.min(
            maxW.toDouble / m.in_w, maxH.toDouble / m.in_h), 1.0)
          val outW = math.max(math.floor(m.in_w * scale).toLong, 1L)
          val outH = math.max(math.floor(m.in_h * scale).toLong, 1L)
          val out = resizeStub(m.payload, m.in_w, m.in_h, outW, outH)
          MediaOut(m.doc_id, m.in_w, m.in_h, outW, outH, out.length.toLong)
        }
      }
      .toDF()
  }

  // F4 — resize-to-box with synthetic per-doc dimensions; the dimension
  // and byte-count math is fully oracle-checked, the resample is the stub.
  private val m4 = Relational.Q(
    "m4_resize_box",
    (s, d) => {
      val media = Tables.documents(s, d)
        .select(col("doc_id"),
          col("text").cast(BinaryType).as("payload"),
          (lit(160L) + col("n_chars") % 1760L).as("in_w"),
          (lit(120L) + (col("doc_id") * 37L) % 960L).as("in_h"))
      resizeToBox(media, 640, 480).orderBy(col("doc_id"))
    },
    Some("""
      WITH m AS (
        SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n,
          160 + (n_chars % 1760) AS in_w, 120 + ((doc_id * 37) % 960) AS in_h
        FROM documents),
      sc AS (
        SELECT *, LEAST(CAST(640 AS DOUBLE) / in_w, CAST(480 AS DOUBLE) / in_h, 1.0) AS scale
        FROM m),
      o AS (
        SELECT doc_id, n, in_w, in_h,
          GREATEST(CAST(FLOOR(in_w * scale) AS BIGINT), 1) AS out_w,
          GREATEST(CAST(FLOOR(in_h * scale) AS BIGINT), 1) AS out_h
        FROM sc)
      SELECT doc_id, in_w, in_h, out_w, out_h,
        CASE WHEN GREATEST((n * out_w * out_h) // (in_w * in_h), 1) >= n THEN n
             ELSE GREATEST((n * out_w * out_h) // (in_w * in_h), 1) END AS out_bytes
      FROM o ORDER BY doc_id"""))

  /** F6 core — perceptual dHash: 8 rows x 9 samples, each bit compares
    * horizontally adjacent "pixels" (sample r*9+c+1 > sample r*9+c),
    * packed little-endian into bits 0..62 (bit 63 is dropped so the hash
    * stays sign-safe in both engines). Pure codegen column expressions —
    * no UDF, oracle-expressible.
    */
  def dHash63(text: Column): Column =
    // the codegen'd static-call spelling (functions/DHash63 — see its
    // Scaladoc for the two measured failure modes it replaces: the
    // 126-tree unroll's 1.7 MB task binary, the HOF fold's 9x interpreted
    // slowdown); coalesce preserves the legacy null-text → 0 hash
    graft.functions.DHash63(coalesce(text, lit("")))

  /** F6 — near-duplicate pairs by perceptual hash: hamming(dHash) <=
    * `maxHamming`. Candidates come from a 4x16-bit band equi-join
    * (pigeonhole: <= 3 differing bits cannot touch all four bands, so
    * recall is exactly 1 at maxHamming <= 3 — which is what the full
    * pairwise oracle verifies). The shuffle key is the band value; at
    * 100 TB identical-hash clusters (exact perceptual dups) are the skew
    * risk — pre-group equal hashes and join representatives if a band
    * bucket grows past the partition budget.
    */
  def dhashNearDups(docs: DataFrame, maxHamming: Int = 3): DataFrame =
    dhashNearDupsFromHashes(
      docs.select(col("doc_id"), dHash63(col("text")).as("h")), maxHamming)

  /** The band join over PRECOMPUTED 63-bit perceptual hashes — the entry
    * point for hashes from real decoded pixels
    * ([[ImageCodec.dhashFromImage]] emits the identical bit layout), so
    * image near-dup runs the same operator as the text-stub pipeline.
    * Input: (doc_id, h).
    */
  def dhashNearDupsFromHashes(h: DataFrame, maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding only guarantees recall for hamming <= 3")
    // band index rides along so equal 16-bit values in different lanes
    // don't collide into one bucket
    val withIdx = h.select(col("doc_id"), col("h"),
      posexplode(array((0 until 4).map(b =>
        shiftright(col("h"), b * 16).bitwiseAND(lit(0xffffL))): _*))
        .as(Seq("band_idx", "band_val")))
    val a = withIdx.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_a"), col("h").as("h_a"))
    val b = withIdx.select(col("band_idx"), col("band_val"),
      col("doc_id").as("doc_b"), col("h").as("h_b"))
    a.join(b, Seq("band_idx", "band_val"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("h_a"), col("h_b"))
      .distinct()
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** F10 / A40's core: INCREMENTAL perceptual near-dup — arriving media
    * hashes probe a published corpus hash frame (the d18 pair-frame
    * convention in dHash space): match = some shared 16-bit band
    * (pigeonhole recall 1 at hamming <= 3) AND hamming <= maxHamming.
    * Both inputs are (doc_id, h) frames, so the same operator serves the
    * text-stub pipeline and real decoded pixels
    * ([[ImageCodec.dhashFromImage]] emits the identical bit layout).
    *
    * Streamability is DESIGNED IN: where [[dhashNearDupsFromHashes]]
    * dedups multi-band matches with `.distinct()` (an aggregation —
    * needs a watermark on a stream), the probe keeps only the LEFTMOST
    * matching band (any later-band match where an earlier band also
    * matches is dropped by a pure filter over the hash bits), so each
    * near pair emits exactly once through narrow projections + one
    * stream-static band equi-join — no state, no watermark (A39's
    * contract, for images).
    *
    * Scale: corpus side is band-exploded once (4 rows/hash) and can be
    * band-partitioned at publish time; per-arrival work is 4 bucket
    * probes; identical-hash clusters are the skew risk (the m6 note) —
    * pre-group equal corpus hashes and probe representatives.
    */
  def dhashProbe(arrivals: DataFrame, corpus: DataFrame,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming <= 3, "4x16 banding only guarantees recall for hamming <= 3")
    def band(c: Column, j: Int): Column =
      shiftright(c, j * 16).bitwiseAND(lit(0xffffL))
    def banded(df: DataFrame, id: String, hn: String) =
      df.select(col("doc_id").as(id), col("h").as(hn))
        .select(col(id), col(hn),
          posexplode(array((0 until 4).map(b => band(col(hn), b)): _*))
            .as(Seq("band_idx", "band_val")))
    banded(arrivals, "doc_id", "h_a")
      .join(banded(corpus, "dup_of", "h_b"), Seq("band_idx", "band_val"))
      .withColumn("hamming",
        bit_count(col("h_a").bitwiseXOR(col("h_b"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      // leftmost-band dedup: drop this match if ANY earlier band also
      // matches — pure bit arithmetic, so no distinct/aggregation
      .filter((0 until 3).map(j =>
        !(col("band_idx") > j && band(col("h_a"), j) === band(col("h_b"), j)))
        .reduce(_ && _))
      .select(col("doc_id"), col("dup_of"), col("hamming"))
  }

  // F6 — perceptual near-dup over payloads plus their "re-encoded"
  // variants: each payload of length >= 72 gets a twin with one byte
  // perturbed in place (the stub analog of JPEG re-encode noise — tiny
  // pixel deltas, same dimensions). Because the 72 sample positions are
  // injective for length >= 72, the twin differs in at most one sample,
  // so dHash moves by at most 2 bits and every (doc, twin) pair must
  // surface at maxHamming = 3. Fully oracle-checked: DuckDB recomputes
  // the same 63-bit dHash and takes the exact full-pairwise answer — so
  // the driver gate also proves the band join's recall-1 claim, pair for
  // pair, rather than comparing empty sets.
  private val m6 = Relational.Q(
    "m6_dhash_near_dup",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val twins = base.filter(length(col("text")) >= 72)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text").substr(lit(1), lit(35)), lit("Z"),
            col("text").substr(lit(37), length(col("text")))).as("text"))
      dhashNearDups(base.unionByName(twins))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id,
          substr(text, 1, 35) || 'Z' || substr(text, 37) AS text
        FROM documents WHERE length(text) >= 72),
      s AS (
        SELECT doc_id, p,
          ord(substr(text, CAST((p * (length(text) - 1)) // 71 AS INTEGER) + 1, 1)) AS g
        FROM corpus, UNNEST(range(0, 72)) AS t(p)),
      bits AS (
        SELECT doc_id, p, (p // 9) * 8 + (p % 9) AS bit,
          CASE WHEN lead(g) OVER (PARTITION BY doc_id ORDER BY p) > g
               THEN 1 ELSE 0 END AS v
        FROM s),
      h AS (
        SELECT doc_id,
          CAST(SUM(CASE WHEN v = 1 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS h
        FROM bits WHERE p % 9 < 8 AND (p // 9) * 8 + (p % 9) <= 62
        GROUP BY doc_id)
      SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      FROM h a JOIN h b ON a.doc_id < b.doc_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY doc_a, doc_b"""))

  // F7 — REAL audio ingest: encode a deterministic PCM16 WAV payload per
  // doc (integer triangle-ish waveform — no transcendental, so the
  // expected samples are SQL-expressible), then DECODE it back through
  // the real RIFF parser ([[AudioCodec.decodePcm16Wav]]) and aggregate
  // energy stats from the PARSED samples. The DuckDB oracle computes the
  // same stats directly from the waveform formula — a hash match proves
  // the container round-trip (header layout, little-endian int16 frames,
  // chunk walking) recovered every sample bit-exactly. All stats are
  // integer (sum of squares, peak) — no float anywhere. Narrow map-side
  // work per row; the only shuffle is the final orderBy.
  private val m7 = Relational.Q(
    "m7_audio_ingest",
    (s, d) => {
      import s.implicits._
      val SR = 8000
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (160 + (id % 80)).toInt
            val step = (997 + (id % 7)).toInt
            val samples = Array.tabulate(n)(k => (((k * step) % 65536) - 32768).toShort)
            val dec = AudioCodec.decodePcm16Wav(
              AudioCodec.encodePcm16Wav(SR, 1, samples)).getOrElse(
              sys.error(s"m7: round-trip decode failed for doc $id"))
            // everything below derives from the PARSED bytes, not the
            // formula — the oracle recomputes from the formula, so the
            // hash check pins decode == encode sample for sample
            var ss = 0L; var peak = 0L
            dec.samples.foreach { v =>
              ss += v.toLong * v; peak = math.max(peak, math.abs(v.toLong))
            }
            (id, dec.sampleRate, dec.channels, dec.samples.length.toLong, ss, peak)
          }
        }
        .toDF("doc_id", "sample_rate", "n_channels", "n_frames", "sum_sq", "peak")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, 160 + doc_id % 80 AS n, 997 + doc_id % 7 AS step
        FROM documents),
      s AS (
        SELECT doc_id, n, ((k * step) % 65536) - 32768 AS v
        FROM d, LATERAL (SELECT unnest(range(n)) AS k) u)
      SELECT doc_id, 8000 AS sample_rate, 1 AS n_channels,
        CAST(n AS BIGINT) AS n_frames,
        CAST(SUM(v * v) AS BIGINT) AS sum_sq,
        CAST(MAX(ABS(v)) AS BIGINT) AS peak
      FROM s GROUP BY doc_id, n ORDER BY doc_id"""))

  // F8 — REAL video-container ingest: per doc, mux deterministic frame
  // payloads into a well-formed RIFF/AVI, walk it back through the real
  // parser ([[VideoCodec.frames]]), and aggregate integer stats from
  // the PARSED frames — frame count, total payload bytes, and a
  // position-salted checksum (frame k, byte i weighted) that pins every
  // parsed byte to its formula value, so the DuckDB oracle (which
  // recomputes from the formula) proves the container round-trip
  // byte-exactly. The ImageIO per-frame DECODE path
  // ([[VideoCodec.decodeFrames]]) is spec'd on real PNG frames — lossy
  // codecs would make pixel values engine-irreproducible, so the query
  // pins the container layer and the spec pins the decode layer.
  private val m8 = Relational.Q(
    "m8_video_container",
    (s, d) => {
      import s.implicits._
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val n = (3 + (id % 4)).toInt
            val frames = (0 until n).map { k =>
              val len = (100 + ((id + k) % 50)).toInt
              Array.tabulate[Byte](len)(i => ((i * 31 + k * 7 + id) % 251).toByte)
            }
            val dec = VideoCodec.frames(VideoCodec.encodeAvi(frames)).getOrElse(
              sys.error(s"m8: container walk failed for doc $id"))
            var total = 0L
            var checksum = 0L
            dec.zipWithIndex.foreach { case (fb, k) =>
              total += fb.length
              var i = 0
              while (i < fb.length) {
                checksum += (fb(i) & 0xff).toLong * (i + k * 1000 + 1)
                i += 1
              }
            }
            (id, dec.length, total, checksum)
          }
        }
        .toDF("doc_id", "n_frames", "total_frame_bytes", "checksum")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (
        SELECT doc_id, 3 + doc_id % 4 AS n FROM documents),
      f AS (
        SELECT doc_id, n, k, 100 + ((doc_id + k) % 50) AS len
        FROM d, LATERAL (SELECT unnest(range(n)) AS k) u),
      x AS (
        SELECT doc_id, k, i, (i * 31 + k * 7 + doc_id) % 251 AS v
        FROM f, LATERAL (SELECT unnest(range(len)) AS i) w)
      SELECT d.doc_id,
        CAST(d.n AS INTEGER) AS n_frames,
        CAST(fb.total AS BIGINT) AS total_frame_bytes,
        CAST(cs.checksum AS BIGINT) AS checksum
      FROM d
      JOIN (SELECT doc_id, SUM(len) AS total FROM f GROUP BY 1) fb USING (doc_id)
      JOIN (SELECT doc_id, SUM(v * (i + k * 1000 + 1)) AS checksum FROM x GROUP BY 1) cs
        USING (doc_id)
      ORDER BY doc_id"""))

  // F10 — the perceptual probe: m6's "re-encoded" twins arrive against
  // the published base-corpus hashes. Oracle = the exact cross pairwise
  // (no banding, no leftmost dedup), so the hash compare proves BOTH the
  // band recall-1 claim and that leftmost-band dedup emits each pair
  // exactly once.
  private val m10 = Relational.Q(
    "m10_dhash_probe",
    (s, d) => {
      val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
      val twins = base.filter(length(col("text")) >= 72)
        .select((col("doc_id") + lit(10000000L)).as("doc_id"),
          concat(col("text").substr(lit(1), lit(35)), lit("Z"),
            col("text").substr(lit(37), length(col("text")))).as("text"))
      dhashProbe(
          twins.select(col("doc_id"), dHash63(col("text")).as("h")),
          base.select(col("doc_id"), dHash63(col("text")).as("h")))
        .orderBy(col("doc_id"), col("dup_of"))
    },
    Some("""
      WITH corpus AS (
        SELECT doc_id, text, FALSE AS arriving FROM documents
        UNION ALL
        SELECT doc_id + 10000000 AS doc_id,
          substr(text, 1, 35) || 'Z' || substr(text, 37) AS text, TRUE AS arriving
        FROM documents WHERE length(text) >= 72),
      s AS (
        SELECT doc_id, arriving, p,
          ord(substr(text, CAST((p * (length(text) - 1)) // 71 AS INTEGER) + 1, 1)) AS g
        FROM corpus, UNNEST(range(0, 72)) AS t(p)),
      bits AS (
        SELECT doc_id, arriving, p, (p // 9) * 8 + (p % 9) AS bit,
          CASE WHEN lead(g) OVER (PARTITION BY doc_id ORDER BY p) > g
               THEN 1 ELSE 0 END AS v
        FROM s),
      h AS (
        SELECT doc_id, arriving,
          CAST(SUM(CASE WHEN v = 1 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS h
        FROM bits WHERE p % 9 < 8 AND (p // 9) * 8 + (p % 9) <= 62
        GROUP BY doc_id, arriving)
      SELECT a.doc_id AS doc_id, c.doc_id AS dup_of,
        CAST(bit_count(xor(a.h, c.h)) AS BIGINT) AS hamming
      FROM h a JOIN h c ON a.arriving AND NOT c.arriving
      WHERE bit_count(xor(a.h, c.h)) <= 3
      ORDER BY a.doc_id, dup_of"""))

  /** F11's core: AUDIO perceptual fingerprint — the Haitsma & Kalker
    * (2002) bit derivation (sign of the band-energy difference's
    * time-and-band delta) over integer AMDF band features (average
    * magnitude difference function, the classic FFT-free spectral
    * proxy: the lag-L absolute-difference sum is small where the signal
    * has period ~L, so increasing lags sweep high→low frequency bands).
    * A production system swaps the AMDF energies for FFT bin energies
    * at this one seam; the bit derivation, packing, and banded join are
    * unchanged.
    *
    * Layout: 17 frames x 64 samples; bands b=0..4 are lags 1..5;
    * E(b,t) = sum |s[k]-s[k-lag]| within frame t (integer);
    * bit((t-1)*4+b) = 1 iff (E(b,t)-E(b+1,t)) - (E(b,t-1)-E(b+1,t-1))
    * > 0, packed little-endian into bits 0..62 (bit 63 dropped —
    * the m6 sign-safety convention). All integer arithmetic, so the
    * fingerprint is bit-reproducible across engines and the robustness
    * class is PROVABLE, not statistical: DC offset cancels inside the
    * differences, and exact volume scaling multiplies every E by the
    * same factor, preserving every sign — the two invariances the HK
    * fingerprint is designed around (re-recorded / re-leveled audio).
    */
  def audioFingerprint(samples: Array[Short]): Long = {
    val F = 17; val L = 64; val B = 5
    require(samples.length >= F * L, s"need ${F * L} samples, got ${samples.length}")
    val e = Array.ofDim[Long](F, B)
    var t = 0
    while (t < F) {
      var b = 0
      while (b < B) {
        val lag = b + 1
        var k = lag; var acc = 0L
        while (k < L) {
          acc += math.abs(samples(t * L + k) - samples(t * L + k - lag)); k += 1
        }
        e(t)(b) = acc; b += 1
      }
      t += 1
    }
    var h = 0L
    t = 1
    while (t < F) {
      var b = 0
      while (b < 4) {
        val idx = (t - 1) * 4 + b
        if (idx <= 62) {
          val dv = (e(t)(b) - e(t)(b + 1)) - (e(t - 1)(b) - e(t - 1)(b + 1))
          if (dv > 0) h |= 1L << idx
        }
        b += 1
      }
      t += 1
    }
    h
  }

  // F11 — audio near-dup by perceptual fingerprint: per doc a
  // deterministic EVEN-sample waveform (two incommensurate sawtooths;
  // even so the half-volume twin halves exactly) is encoded to WAV,
  // decoded back through the REAL RIFF parser (the m7 codec seam — the
  // fingerprint runs on PARSED samples, so a header/endianness bug
  // breaks the hash match), fingerprinted, and fed to the SAME 4x16-bit
  // band join as image dHash (m6). Every fifth doc plants two
  // provably-invariant twins — half volume and +24 DC offset — which
  // the fingerprint maps to hamming 0; the full unbanded pairwise
  // oracle recomputes fingerprints from the waveform formula, so the
  // hash match proves codec round-trip, AMDF/bit arithmetic, band
  // recall, and the invariance claims in one compare.
  private val m11 = Relational.Q(
    "m11_audio_fingerprint",
    (s, d) => {
      import s.implicits._
      val SR = 8000
      val hashes = Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.flatMap { id =>
            val s1 = (257 + id % 97).toInt
            val s2 = (101 + id % 89).toInt
            val base = Array.tabulate(1088)(k =>
              (2 * (((k * s1) % 16384) - 8192 + ((k * s2) % 8192) - 4096)).toShort)
            def fp(xs: Array[Short]): Long = {
              val dec = AudioCodec.decodePcm16Wav(
                AudioCodec.encodePcm16Wav(SR, 1, xs)).getOrElse(
                sys.error(s"m11: round-trip decode failed for audio $id"))
              audioFingerprint(dec.samples)
            }
            val out = Seq(id -> fp(base))
            if (id % 5 == 0)
              out ++ Seq(
                (id + 10000000L) -> fp(base.map(v => (v / 2).toShort)),
                (id + 20000000L) -> fp(base.map(v => (v + 24).toShort)))
            else out
          }
        }.toDF("doc_id", "h")
      dhashNearDupsFromHashes(hashes)
    },
    Some("""
      WITH d0 AS (
        SELECT doc_id, 257 + doc_id % 97 AS s1, 101 + doc_id % 89 AS s2
        FROM documents),
      v AS (
        SELECT doc_id AS audio_id, s1, s2, 0 AS kind FROM d0
        UNION ALL
        SELECT doc_id + 10000000, s1, s2, 1 FROM d0 WHERE doc_id % 5 = 0
        UNION ALL
        SELECT doc_id + 20000000, s1, s2, 2 FROM d0 WHERE doc_id % 5 = 0),
      sv AS (
        SELECT audio_id, k, k // 64 AS t,
          CASE kind
            WHEN 0 THEN 2*(((k*s1) % 16384) - 8192 + ((k*s2) % 8192) - 4096)
            WHEN 1 THEN (2*(((k*s1) % 16384) - 8192 + ((k*s2) % 8192) - 4096)) // 2
            ELSE 2*(((k*s1) % 16384) - 8192 + ((k*s2) % 8192) - 4096) + 24 END AS smp
        FROM v, LATERAL (SELECT unnest(range(1088)) AS k) u),
      e AS (
        SELECT a.audio_id, a.t, lg.lag, CAST(SUM(ABS(a.smp - p.smp)) AS BIGINT) AS en
        FROM sv a
        JOIN (SELECT unnest(range(1, 6)) AS lag) lg ON (a.k % 64) >= lg.lag
        JOIN sv p ON p.audio_id = a.audio_id AND p.k = a.k - lg.lag
        GROUP BY 1, 2, 3),
      dd AS (
        SELECT e1.audio_id, e1.t, e1.lag - 1 AS b, e1.en - e2.en AS dv
        FROM e e1
        JOIN e e2 ON e2.audio_id = e1.audio_id AND e2.t = e1.t AND e2.lag = e1.lag + 1
        WHERE e1.lag <= 4),
      bits AS (
        SELECT c.audio_id, (c.t - 1) * 4 + c.b AS bit,
          CASE WHEN c.dv - p.dv > 0 THEN 1 ELSE 0 END AS vb
        FROM dd c
        JOIN dd p ON p.audio_id = c.audio_id AND p.t = c.t - 1 AND p.b = c.b
        WHERE c.t >= 1),
      h AS (
        SELECT audio_id,
          CAST(SUM(CASE WHEN vb = 1 THEN (CAST(1 AS BIGINT) << bit) ELSE 0 END) AS BIGINT) AS h
        FROM bits WHERE bit <= 62 GROUP BY 1)
      SELECT a.audio_id AS doc_a, b.audio_id AS doc_b,
        CAST(bit_count(xor(a.h, b.h)) AS BIGINT) AS hamming
      FROM h a JOIN h b ON a.audio_id < b.audio_id
      WHERE bit_count(xor(a.h, b.h)) <= 3
      ORDER BY doc_a, doc_b"""))

  // F12 — video SCENE-CHANGE detection on PARSED frames: the shot-
  // boundary stage of a video-curation pipeline (sample one frame per
  // scene instead of one per N — m3's sampler upgraded from blind
  // striding to content cuts). Detector: sum of absolute byte
  // differences between adjacent frames (the classic pixel-difference
  // shot detector), integer end to end; a cut is diff > 8*frameLen.
  // The fixture mux gives each doc 16 fixed-length frames in scenes of
  // (3 + id%3): within a scene adjacent frames differ by exactly 1 per
  // byte (diff = 128), across scenes the base pattern jumps (diff >=
  // ~12900) — an engineered >100x separation, so the threshold is not
  // a tuned constant. Frames round-trip the REAL AVI walker (the m8
  // seam): the oracle recomputes from the formula, so the hash match
  // pins container parse + diff arithmetic + cut decisions together.
  private val m12 = Relational.Q(
    "m12_scene_changes",
    (s, d) => {
      import s.implicits._
      val F = 16; val L = 128
      Tables.documents(s, d).select(col("doc_id")).as[Long]
        .mapPartitions { it =>
          it.map { id =>
            val slen = (3 + id % 3).toInt
            val frames = (0 until F).map { k =>
              Array.tabulate[Byte](L)(i =>
                (((i * 37 + (k / slen) * 101 + id * 13) % 251) + (k % slen)).toByte)
            }
            val dec = VideoCodec.frames(VideoCodec.encodeAvi(frames)).getOrElse(
              sys.error(s"m12: container walk failed for doc $id"))
            var cuts = 0L
            var total = 0L
            var k = 1
            while (k < dec.length) {
              var diff = 0L
              var i = 0
              while (i < L) {
                diff += math.abs((dec(k)(i) & 0xff) - (dec(k - 1)(i) & 0xff)); i += 1
              }
              total += diff
              if (diff > 8L * L) cuts += 1
              k += 1
            }
            (id, dec.length, cuts, total)
          }
        }
        .toDF("doc_id", "n_frames", "n_scene_changes", "total_diff")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (SELECT doc_id, 3 + doc_id % 3 AS slen FROM documents),
      x AS (
        SELECT doc_id, slen, k, i,
          ((i * 37 + (k // slen) * 101 + doc_id * 13) % 251) + (k % slen) AS v
        FROM d,
          LATERAL (SELECT unnest(range(16)) AS k) u,
          LATERAL (SELECT unnest(range(128)) AS i) w),
      df AS (
        SELECT a.doc_id, a.k, CAST(SUM(ABS(a.v - b.v)) AS BIGINT) AS diff
        FROM x a JOIN x b ON b.doc_id = a.doc_id AND b.i = a.i AND b.k = a.k - 1
        GROUP BY 1, 2)
      SELECT doc_id, CAST(16 AS INTEGER) AS n_frames,
        CAST(SUM(CASE WHEN diff > 8 * 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_scene_changes,
        CAST(SUM(diff) AS BIGINT) AS total_diff
      FROM df GROUP BY doc_id ORDER BY doc_id"""))

  /** F13 — forwarders to the shared [[graft.functions.PHash63]] core (the
    * cosine table, the 256-sample DCT reference, and the codegen'd
    * expression all live there so this operator, [[ImageCodec]], the
    * specs, and the oracle share one source of truth).
    */
  private[operators] def CosQ12: Array[Long] = graft.functions.PHash63.CosQ12

  /** DuckDB VALUES twin of [[CosQ12]], interpolated into oracles. */
  private def cosQ12Sql: String =
    CosQ12.zipWithIndex.map { case (c, i) => s"($i, $c)" }.mkString(", ")

  /** F13 reference — see [[graft.functions.PHash63.fromSamples]]. */
  def pHash63FromSamples(samples: Array[Long]): Long =
    graft.functions.PHash63.fromSamples(samples)

  /** F13 core — DCT perceptual hash (pHash) of a text payload as ONE
    * narrow codegen'd projection ([[graft.functions.PHash63]], H10): 256
    * stub-luma samples (the m6 convention — codepoint at the p-th of 256
    * evenly spaced positions; a real image pipeline swaps this stage for
    * 16×16 mean-pooled gray via [[ImageCodec.pHashFromImage]], identical
    * bit layout), then the fixed-point integer DCT — NO explode, NO join,
    * NO shuffle: per-doc work is a constant ~3.5k integer ops on its own
    * row inside whole-stage codegen, so the operator is embarrassingly
    * parallel at 100 TB. (A first spelling in higher-order array
    * functions was measured catastrophically slow: HOFs evaluate
    * interpreted with no CSE, so each chained stage re-computed every
    * earlier stage per element — the expression runs the same math once
    * per row.) Compared to m6's gradient dHash, the DCT hash keys on
    * global low-frequency structure — the published robustness class for
    * re-encode/resize noise (dHash's is local gradients); both feed the
    * SAME 4×16-bit band join ([[dhashNearDupsFromHashes]] /
    * [[dhashProbe]]) since the bit-layout contract (63 bits, sign-safe)
    * is shared. Input (doc_id, text) → output (doc_id, phash).
    */
  def pHash63(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      graft.functions.PHash63(col("text")).as("phash"))

  // F13 — the per-doc pHash frame itself is the oracle-checked query:
  // DuckDB rebuilds every hash from the same CosQ12 literals (relational
  // spelling: UNNEST samples → two join+group-by DCT passes → cross-
  // multiplied threshold), so all 63 bits of every doc's hash are pinned
  // cross-engine — stronger than a pair frame, which would only pin XOR
  // popcounts. Near-dup pairing reuses the PROVEN m6/m10 band machinery
  // unchanged (spec: planted identical twins surface at hamming 0).
  private val m13 = Relational.Q(
    "m13_phash_dct",
    (s, d) => pHash63(Tables.documents(s, d)).orderBy(col("doc_id")),
    Some(s"""
      WITH ct(i, c) AS (SELECT * FROM (VALUES ${cosQ12Sql}) AS t(i, c)),
      s AS (
        -- length(text)=0 guard: Spark's PHash63 hashes '' via all-zero
        -- samples, but (p*(length(text)-1))//255 goes NEGATIVE for empty
        -- text and ord('') diverges in DuckDB — pin g=0 so one empty
        -- document in a fixture can't break the hash check
        SELECT doc_id, p % 16 AS x, p // 16 AS y,
          CASE WHEN length(text) = 0 THEN CAST(0 AS BIGINT)
               ELSE CAST(ord(substr(text, CAST((p*(length(text)-1)) // 255 AS INTEGER)+1, 1)) AS BIGINT)
          END AS g
        FROM documents, UNNEST(range(0,256)) AS t(p)),
      s1 AS (
        SELECT doc_id, ct.i // 16 AS u, s.y AS y, SUM(ct.c * s.g) AS v
        FROM s JOIN ct ON ct.i % 16 = s.x GROUP BY 1, 2, 3),
      f AS (
        SELECT s1.doc_id, s1.u AS u, ct.i // 16 AS v, SUM(ct.c * s1.v) AS f
        FROM s1 JOIN ct ON ct.i % 16 = s1.y GROUP BY 1, 2, 3),
      ac AS (SELECT doc_id, u*8+v AS j, f FROM f WHERE NOT (u = 0 AND v = 0)),
      tot AS (SELECT doc_id, SUM(f) AS s FROM ac GROUP BY 1)
      SELECT a.doc_id AS doc_id,
        CAST(SUM(CASE WHEN 63*a.f > t.s THEN (CAST(1 AS BIGINT) << (a.j-1)) ELSE 0 END) AS BIGINT) AS phash
      FROM ac a JOIN tot t USING (doc_id)
      GROUP BY a.doc_id ORDER BY doc_id"""))

  /** F14 — MEDIA-TYPE SNIFFING (the first stage of any mixed-payload
    * ingest: type every blob from its magic bytes + fixed-offset header
    * fields BEFORE routing it to a decoder — never trust a file
    * extension, never decode to discover the type). Header-only reads —
    * no full parse, no decode — so typing a 100 TB payload column costs
    * a few byte compares per row. Returns (format, dim1, dim2) with
    * per-format meaning: png/gif/bmp → (width, height); wav →
    * (channels, sample_rate); avi → (video frame count via a bounded
    * RIFF header walk, 0); jpeg → (width, height) via a bounded SOF
    * marker walk (dims live in a variable-position SOFn segment, so the
    * walk skips length-prefixed segments until the first frame header —
    * still no entropy-coded data is touched, and a JPEG with no SOF
    * before scan-start types as jpeg (0, 0)); mp4 → (width, height)
    * from the tkhd box via a bounded ISO-BMFF box walk (mdat — the
    * H.264 stream this sandbox cannot decode — is never entered);
    * mp3 → (bitrate kbps, sample rate) from the first MPEG-1 Layer III
    * frame header after an optional ID3v2 tag skip;
    * anything else → ("unknown", 0, 0).
    * Malformed/truncated headers degrade to "unknown" (one operator
    * survives a dirty column — the m2 featuresOrStub discipline).
    */
  def sniffMedia(bytes: Array[Byte]): (String, Long, Long) = {
    def u8(i: Int): Int = bytes(i) & 0xff
    def be32(i: Int): Long =
      ((u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3))
    def le16(i: Int): Long = (u8(i) | (u8(i + 1) << 8)).toLong
    def le32(i: Int): Long =
      (u8(i).toLong | (u8(i + 1).toLong << 8) | (u8(i + 2).toLong << 16) | (u8(i + 3).toLong << 24))
    def ascii(i: Int, n: Int): String =
      if (bytes.length >= i + n) new String(bytes, i, n, "US-ASCII") else ""
    try {
      if (bytes.length >= 24 && u8(0) == 0x89 && ascii(1, 3) == "PNG")
        ("png", be32(16), be32(20))
      else if (bytes.length >= 10 && (ascii(0, 6) == "GIF87a" || ascii(0, 6) == "GIF89a"))
        ("gif", le16(6), le16(8))
      else if (bytes.length >= 26 && ascii(0, 2) == "BM")
        ("bmp", le32(18), le32(22))
      else if (bytes.length >= 3 && u8(0) == 0xff && u8(1) == 0xd8 && u8(2) == 0xff) {
        // bounded SOF marker walk (still header-only — the scan stops at
        // the first frame header, long before entropy-coded data): JPEG
        // keeps dims inside a variable-position SOFn segment, so unlike
        // png/gif/bmp there is no fixed offset to read. Walk the marker
        // stream: 0xFF <marker> [2-byte BE length payload...]; standalone
        // markers (TEM, RSTn) carry no length; SOF0–SOF15 except
        // DHT(C4)/JPG(C8)/DAC(CC) carry precision(1) height(2) width(2).
        // An APP1 EXIF segment seen before the SOF may carry tag 0x0112
        // (Orientation): values 5–8 are the TRANSPOSED placements, so
        // the display dims are the SOF dims swapped — without this an
        // oriented portrait photo reports landscape dims (the r10
        // verdict's m14 item). The IFD walk is bounds-checked against
        // the APP1 segment and entry-capped; anything malformed simply
        // leaves orientation at the default 1.
        var i = 2
        var w = 0L
        var h = 0L
        var orient = 1
        var done = false
        while (!done && i + 3 < bytes.length) {
          if (u8(i) != 0xff) { done = true } // desync: stop typing dims
          else {
            val m = u8(i + 1)
            if (m == 0xff) i += 1 // fill bytes before a marker
            else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2 // standalone
            else {
              val len = (u8(i + 2) << 8) | u8(i + 3)
              if (m == 0xe1 && len >= 16 && i + 2 + len <= bytes.length &&
                  ascii(i + 4, 4) == "Exif" && u8(i + 8) == 0 && u8(i + 9) == 0) {
                val tiff = i + 10
                val end = i + 2 + len // APP1 segment bound: no read past it
                val le = u8(tiff) == 0x49 && u8(tiff + 1) == 0x49
                val be = u8(tiff) == 0x4d && u8(tiff + 1) == 0x4d
                def r16(p: Int): Int =
                  if (le) u8(p) | (u8(p + 1) << 8) else (u8(p) << 8) | u8(p + 1)
                def r32(p: Int): Long =
                  if (le) le32(p)
                  else (u8(p).toLong << 24) | (u8(p + 1).toLong << 16) |
                    (u8(p + 2).toLong << 8) | u8(p + 3).toLong
                if ((le || be) && tiff + 8 <= end && r16(tiff + 2) == 42) {
                  val ifdOff = r32(tiff + 4)
                  val ifd = tiff + ifdOff.toInt
                  if (ifdOff >= 8 && ifdOff < (end - tiff).toLong && ifd + 2 <= end) {
                    val n = math.min(r16(ifd), 64) // entry cap: untrusted input
                    var k = 0
                    while (k < n && ifd + 2 + (k + 1) * 12 <= end) {
                      val e = ifd + 2 + k * 12
                      if (r16(e) == 0x0112 && r16(e + 2) == 3 && r32(e + 4) == 1L) {
                        val o = r16(e + 8)
                        if (o >= 1 && o <= 8) orient = o
                      }
                      k += 1
                    }
                  }
                }
                i += 2 + len
              } else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
                if (len >= 7 && i + 8 < bytes.length) {
                  h = ((u8(i + 5) << 8) | u8(i + 6)).toLong
                  w = ((u8(i + 7) << 8) | u8(i + 8)).toLong
                }
                done = true
              } else if (m == 0xda || len < 2) done = true // SOS: no SOF seen
              else i += 2 + len
            }
          }
        }
        if (orient >= 5) ("jpeg", h, w) else ("jpeg", w, h)
      }
      else if (bytes.length >= 28 && ascii(0, 4) == "RIFF" && ascii(8, 4) == "WAVE" &&
          ascii(12, 4) == "fmt ")
        ("wav", le16(22), le32(24))
      else if (bytes.length >= 12 && ascii(0, 4) == "RIFF" && ascii(8, 4) == "AVI ") {
        // bounded container walk (no frame decode): count video-stream
        // chunks ('..dc'/'..db'), descending into LIST ranges the way
        // VideoCodec.frames does
        val buf = java.nio.ByteBuffer.wrap(bytes)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        buf.position(12)
        var frames = 0L
        def level(limit: Int): Boolean = Riff.walk(buf, limit) { (id, len) =>
          if (id == "LIST") { val end = buf.position() + len; Riff.tag(buf); level(end) }
          else { if (id.endsWith("dc") || id.endsWith("db")) frames += 1; true }
        }
        level(bytes.length)
        ("avi", frames, 0L)
      }
      else if (bytes.length >= 12 && ascii(4, 4) == "ftyp") {
        // MP4/ISO-BMFF: a bounded BOX walk (boxes are [size BE32][type]
        // [payload], nested) — find moov → trak → tkhd and read the
        // 16.16-fixed width/height from the track header. Header-only:
        // mdat (the actual H.264 stream, which this sandbox cannot
        // decode — the declared seam) is never entered.
        var w = 0L
        var h = 0L
        def walkBoxes(from: Int, limit: Int, depth: Int): Unit = {
          var i = from
          while (w == 0L && i + 8 <= limit && depth < 6) {
            val sz = be32(i)
            val tpe = ascii(i + 4, 4)
            if (sz < 8 || i + sz > limit) return // malformed: stop, keep type
            if (tpe == "moov" || tpe == "trak") walkBoxes(i + 8, i + sz.toInt, depth + 1)
            else if (tpe == "tkhd" && sz >= 92) {
              // v0 layout: ver/flags(4) ctime(4) mtime(4) id(4) rsvd(4)
              // dur(4) rsvd(8) layer(2) group(2) vol(2) rsvd(2)
              // matrix(36) → width/height as 16.16 fixed at +76/+80.
              // v1 widens ctime/mtime/duration to 64 bits (+12 bytes), so
              // dims sit at +88/+92 and the box is >= 104 bytes — reading
              // the v0 offsets there would type matrix bytes as dims.
              // Unknown versions degrade to (0,0) rather than guess.
              val base = i + 8
              val ver = u8(base)
              val dimOff =
                if (ver == 0) 76
                else if (ver == 1 && sz >= 104) 88
                else -1
              if (dimOff > 0) {
                val wd = be32(base + dimOff) >> 16
                val ht = be32(base + dimOff + 4) >> 16
                if (wd > 0 && ht > 0) { w = wd; h = ht } // first VIDEO track wins
              }
            }
            i += sz.toInt
          }
        }
        walkBoxes(0, bytes.length, 0)
        ("mp4", w, h)
      }
      else if (bytes.length >= 4 && (
          (u8(0) == 0xff && (u8(1) & 0xe0) == 0xe0) || ascii(0, 3) == "ID3")) {
        // MPEG audio: skip an ID3v2 tag if present (syncsafe 28-bit
        // size), then parse the first frame header's bitrate/samplerate
        // indices (MPEG-1 Layer III tables — the dominant mp3 profile).
        // Decode stays behind the declared seam; this is the header walk.
        var off = 0
        if (ascii(0, 3) == "ID3" && bytes.length >= 10) {
          val syncsafe = ((u8(6) & 0x7f) << 21) | ((u8(7) & 0x7f) << 14) |
            ((u8(8) & 0x7f) << 7) | (u8(9) & 0x7f)
          off = 10 + syncsafe
        }
        if (bytes.length >= off + 4 && u8(off) == 0xff && (u8(off + 1) & 0xfe) == 0xfa) {
          // 0xFFFA/0xFFFB = MPEG-1 Layer III (with/without CRC)
          val bitrateIdx = (u8(off + 2) >> 4) & 0xf
          val srIdx = (u8(off + 2) >> 2) & 0x3
          val bitrates = Array(0L, 32L, 40L, 48L, 56L, 64L, 80L, 96L,
            112L, 128L, 160L, 192L, 224L, 256L, 320L, 0L)
          val rates = Array(44100L, 48000L, 32000L, 0L)
          if (bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx <= 2)
            ("mp3", bitrates(bitrateIdx), rates(srIdx))
          else ("unknown", 0L, 0L)
        } else ("unknown", 0L, 0L)
      }
      else ("unknown", 0L, 0L)
    } catch {
      // the whole point of this operator is typing UNTRUSTED dirty blobs:
      // any malformed header must degrade to "unknown", never crash the
      // task. IndexOutOfBounds covers the fixed-offset reads, but the AVI
      // branch walks a ByteBuffer (Riff.tag reads 4 bytes unconditionally,
      // e.g. on a LIST chunk whose declared length runs past the buffer)
      // which throws BufferUnderflowException — so catch every non-fatal.
      case scala.util.control.NonFatal(_) => ("unknown", 0L, 0L)
    }
  }

  /** Minimal VALID MPEG-1 Layer III frame header (+ filler payload) — the
    * hand-built-header fixture convention (gif/bmp class): no encoder in
    * this sandbox emits mp3, so the fixture plants the exact header
    * grammar the sniffer parses. bitrateIdx in 1..14, srIdx in 0..2.
    */
  def encodeMp3Header(bitrateIdx: Int, srIdx: Int): Array[Byte] = {
    require(bitrateIdx >= 1 && bitrateIdx <= 14 && srIdx >= 0 && srIdx <= 2)
    Array[Byte](0xff.toByte, 0xfb.toByte,
      (((bitrateIdx & 0xf) << 4) | ((srIdx & 0x3) << 2)).toByte, 0x00) ++
      Array.fill(28)(0x55.toByte)
  }

  /** Minimal VALID ISO-BMFF skeleton — ftyp + moov>trak>tkhd(v0) with the
    * 16.16-fixed width/height a real mp4 carries (mdat omitted: the
    * sniffer never enters it).
    */
  def encodeMp4Header(w: Int, h: Int): Array[Byte] = {
    val out = java.nio.ByteBuffer.allocate(124).order(java.nio.ByteOrder.BIG_ENDIAN)
    def box(size: Int, tpe: String): Unit = {
      out.putInt(size); out.put(tpe.getBytes("US-ASCII"))
    }
    box(16, "ftyp"); out.put("isom".getBytes("US-ASCII")); out.putInt(0x200)
    box(108, "moov")
    box(100, "trak")
    box(92, "tkhd")
    out.putInt(0) // version 0 + flags
    (0 until 5).foreach(_ => out.putInt(0)) // ctime mtime id rsvd duration
    out.putLong(0L) // reserved
    out.putShort(0); out.putShort(0); out.putShort(0); out.putShort(0)
    (0 until 9).foreach(_ => out.putInt(0)) // matrix
    out.putInt(w << 16); out.putInt(h << 16)
    out.array()
  }

  /** Splice a minimal APP1 EXIF segment right after a JPEG's SOI — the
    * hand-built-header fixture convention applied to a real JDK-encoded
    * JPEG: no encoder in this sandbox writes EXIF, so the fixture plants
    * the exact TIFF grammar the sniffer parses (both byte orders).
    * Carries tag 0x0112 (Orientation) and, when `gps` is set, tag
    * 0x8825 (the GPSInfo IFD pointer — the location-PII tag m16 exists
    * to find and remove) pointing at an in-segment empty GPS IFD.
    */
  def spliceExif(jpeg: Array[Byte], orientation: Int,
      littleEndian: Boolean, gps: Boolean): Array[Byte] = {
    require(jpeg.length >= 2 && (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8,
      "not a JPEG (no SOI)")
    require(orientation >= 1 && orientation <= 8, s"bad orientation $orientation")
    val entries = if (gps) 2 else 1
    // TIFF block: header 8 + count 2 + entries*12 + next 4 (+ empty GPS
    // IFD 2+4 when present); APP1 payload = 6 ("Exif\0\0") + TIFF block
    val tiffLen = 8 + 2 + entries * 12 + 4 + (if (gps) 6 else 0)
    val segLen = 2 + 6 + tiffLen // length field covers itself + payload
    val seg = java.nio.ByteBuffer.allocate(2 + segLen)
    def p16(v: Int, le: Boolean): Unit =
      if (le) { seg.put(v.toByte); seg.put((v >> 8).toByte) }
      else { seg.put((v >> 8).toByte); seg.put(v.toByte) }
    def p32(v: Int, le: Boolean): Unit =
      if (le) { p16(v & 0xffff, le = true); p16(v >>> 16, le = true) }
      else { p16(v >>> 16, le = false); p16(v & 0xffff, le = false) }
    seg.put(0xff.toByte); seg.put(0xe1.toByte)
    p16(segLen, le = false)
    seg.put("Exif".getBytes("US-ASCII")); seg.put(0.toByte); seg.put(0.toByte)
    val bo = if (littleEndian) 0x49 else 0x4d
    seg.put(bo.toByte); seg.put(bo.toByte)
    p16(42, littleEndian)
    p32(8, littleEndian) // IFD0 right after the TIFF header
    p16(entries, littleEndian)
    p16(0x0112, littleEndian); p16(3, littleEndian) // Orientation, SHORT
    p32(1, littleEndian)
    p16(orientation, littleEndian); p16(0, littleEndian)
    if (gps) {
      val gpsIfdOff = 8 + 2 + entries * 12 + 4 // right after IFD0
      p16(0x8825, littleEndian); p16(4, littleEndian) // GPSInfo, LONG
      p32(1, littleEndian)
      p32(gpsIfdOff, littleEndian)
    }
    p32(0, littleEndian) // no next IFD
    if (gps) { p16(0, littleEndian); p32(0, littleEndian) } // empty GPS IFD
    jpeg.take(2) ++ seg.array() ++ jpeg.drop(2)
  }

  /** Back-compat spelling used by the m14 fixture. */
  def spliceExifOrientation(jpeg: Array[Byte], orientation: Int,
      littleEndian: Boolean): Array[Byte] =
    spliceExif(jpeg, orientation, littleEndian, gps = false)

  /** Does the blob carry an EXIF GPSInfo pointer (tag 0x8825)? The
    * location-PII check image pipelines run before anything ships: the
    * same bounded, segment-confined APP1/TIFF walk as the orientation
    * read — malformed input is simply `false`, never a crash.
    */
  def detectExifGps(bytes: Array[Byte]): Boolean =
    exifIfd0HasTag(bytes, 0x8825)

  private def exifIfd0HasTag(bytes: Array[Byte], tag: Int): Boolean = {
    def u8(i: Int): Int = bytes(i) & 0xff
    try {
      if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return false
      var i = 2
      while (i + 3 < bytes.length) {
        if (u8(i) != 0xff) return false
        val m = u8(i + 1)
        if (m == 0xff) { i += 1 }
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
        else {
          val len = (u8(i + 2) << 8) | u8(i + 3)
          if (m == 0xe1 && len >= 16 && i + 2 + len <= bytes.length &&
              new String(bytes, i + 4, 4, "US-ASCII") == "Exif" &&
              u8(i + 8) == 0 && u8(i + 9) == 0) {
            val tiff = i + 10
            val end = i + 2 + len
            val le = u8(tiff) == 0x49 && u8(tiff + 1) == 0x49
            val be = u8(tiff) == 0x4d && u8(tiff + 1) == 0x4d
            def r16(p: Int): Int =
              if (le) u8(p) | (u8(p + 1) << 8) else (u8(p) << 8) | u8(p + 1)
            def r32(p: Int): Long =
              if (le) u8(p).toLong | (u8(p + 1).toLong << 8) |
                (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
              else (u8(p).toLong << 24) | (u8(p + 1).toLong << 16) |
                (u8(p + 2).toLong << 8) | u8(p + 3).toLong
            if ((le || be) && tiff + 8 <= end && r16(tiff + 2) == 42) {
              val ifdOff = r32(tiff + 4)
              val ifd = tiff + ifdOff.toInt
              if (ifdOff >= 8 && ifdOff < (end - tiff).toLong && ifd + 2 <= end) {
                val n = math.min(r16(ifd), 64)
                var k = 0
                while (k < n && ifd + 2 + (k + 1) * 12 <= end) {
                  if (r16(ifd + 2 + k * 12) == tag) return true
                  k += 1
                }
              }
            }
            i += 2 + len
          } else if (m == 0xda || len < 2) return false
          else i += 2 + len
        }
      }
      false
    } catch { case scala.util.control.NonFatal(_) => false }
  }

  /** Remove every APP1 segment from a JPEG — the EXIF SCRUB (orientation,
    * camera metadata, and above all GPS go with it; pipelines that keep
    * orientation re-bake it post-decode). The marker walk stops copying
    * selectively at SOS: from there on the entropy-coded stream is copied
    * VERBATIM (never parsed), and any desync likewise degrades to a
    * verbatim copy of the remainder — the scrub must never corrupt what
    * it doesn't understand. Non-JPEG input returns unchanged.
    */
  def stripExif(bytes: Array[Byte]): Array[Byte] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return bytes
    val out = new java.io.ByteArrayOutputStream(bytes.length)
    out.write(bytes, 0, 2) // SOI
    var i = 2
    try {
      while (i + 3 < bytes.length) {
        if (u8(i) != 0xff) { out.write(bytes, i, bytes.length - i); return out.toByteArray }
        val m = u8(i + 1)
        if (m == 0xff) { out.write(0xff); i += 1 }
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) { out.write(bytes, i, 2); i += 2 }
        else {
          val len = (u8(i + 2) << 8) | u8(i + 3)
          if (len < 2 || i + 2 + len > bytes.length) {
            out.write(bytes, i, bytes.length - i); return out.toByteArray
          }
          if (m == 0xda) { // SOS: entropy data follows — copy the rest verbatim
            out.write(bytes, i, bytes.length - i); return out.toByteArray
          }
          if (m != 0xe1) out.write(bytes, i, 2 + len) // APP1 dropped, rest kept
          i += 2 + len
        }
      }
      if (i < bytes.length) out.write(bytes, i, bytes.length - i)
      out.toByteArray
    } catch {
      case scala.util.control.NonFatal(_) => bytes
    }
  }

  /** Read an IFD0 SHORT tag's value (orientation = tag 0x0112) — the
    * same bounded walk as [[exifIfd0HasTag]]; None on anything
    * malformed or absent.
    */
  def exifIfd0ShortValue(bytes: Array[Byte], tag: Int): Option[Int] = {
    def u8(i: Int): Int = bytes(i) & 0xff
    try {
      if (bytes.length < 4 || u8(0) != 0xff || u8(1) != 0xd8) return None
      var i = 2
      while (i + 3 < bytes.length) {
        if (u8(i) != 0xff) return None
        val m = u8(i + 1)
        if (m == 0xff) { i += 1 }
        else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
        else {
          val len = (u8(i + 2) << 8) | u8(i + 3)
          if (m == 0xe1 && len >= 16 && i + 2 + len <= bytes.length &&
              new String(bytes, i + 4, 4, "US-ASCII") == "Exif" &&
              u8(i + 8) == 0 && u8(i + 9) == 0) {
            val tiff = i + 10
            val end = i + 2 + len
            val le = u8(tiff) == 0x49 && u8(tiff + 1) == 0x49
            val be = u8(tiff) == 0x4d && u8(tiff + 1) == 0x4d
            def r16(p: Int): Int =
              if (le) u8(p) | (u8(p + 1) << 8) else (u8(p) << 8) | u8(p + 1)
            def r32(p: Int): Long =
              if (le) u8(p).toLong | (u8(p + 1).toLong << 8) |
                (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
              else (u8(p).toLong << 24) | (u8(p + 1).toLong << 16) |
                (u8(p + 2).toLong << 8) | u8(p + 3).toLong
            if ((le || be) && tiff + 8 <= end && r16(tiff + 2) == 42) {
              val ifdOff = r32(tiff + 4)
              val ifd = tiff + ifdOff.toInt
              if (ifdOff >= 8 && ifdOff < (end - tiff).toLong && ifd + 2 <= end) {
                val n = math.min(r16(ifd), 64)
                var k = 0
                while (k < n && ifd + 2 + (k + 1) * 12 <= end) {
                  val e = ifd + 2 + k * 12
                  if (r16(e) == tag && r16(e + 2) == 3 && r32(e + 4) == 1L)
                    return Some(r16(e + 8))
                  k += 1
                }
              }
            }
            i += 2 + len
          } else if (m == 0xda || len < 2) return None
          else i += 2 + len
        }
      }
      None
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** SURGICAL GPS scrub (m17 — the r11 verdict's m16 follow-up): remove
    * ONLY the GPSInfo entry (tag 0x8825) and the sub-IFD it points at,
    * preserving orientation and every other tag — the production
    * posture, where dropping the whole APP1 (m16's [[stripExif]]) would
    * force an orientation re-bake after decode.
    *
    * The APP1's TIFF block is REBUILT, not patched: IFD0 is re-parsed
    * entry by entry, the GPSInfo entry dropped, inline values (<= 4
    * bytes) copied verbatim, out-of-line values copied into a fresh
    * value area with offsets recomputed, and the Exif/Interop sub-IFDs
    * (tags 0x8769/0xA005) rebuilt recursively under the same rules —
    * in-place byte patching would have to fix every downstream offset
    * anyway, so the rebuild IS the simple spelling. Byte order is
    * preserved. IFD1 (the thumbnail chain) is dropped on rebuild: a
    * thumbnail carries its own nested metadata and is the one part a
    * PII scrub should not ship unparsed.
    *
    * FAIL-CLOSED: a JPEG whose IFD0 carries GPS but whose TIFF grammar
    * the rebuilder cannot fully account for falls back to the full
    * [[stripExif]] — when surgery is unsafe the PII still goes, along
    * with the rest of the segment (never the reverse). A payload with
    * no GPS in IFD0 returns byte-identical.
    */
  def stripExifGpsOnly(bytes: Array[Byte]): Array[Byte] = {
    if (!detectExifGps(bytes)) return bytes
    def u8(i: Int): Int = bytes(i) & 0xff
    try {
      // locate the Exif APP1 (detectExifGps proved there is one with GPS)
      var i = 2
      var app1 = -1
      var app1Len = 0
      var scanning = true
      while (scanning && i + 3 < bytes.length) {
        if (u8(i) != 0xff) scanning = false
        else {
          val m = u8(i + 1)
          if (m == 0xff) i += 1
          else if (m == 0x01 || (m >= 0xd0 && m <= 0xd9)) i += 2
          else {
            val len = (u8(i + 2) << 8) | u8(i + 3)
            if (len < 2 || i + 2 + len > bytes.length || m == 0xda) scanning = false
            else {
              if (m == 0xe1 && len >= 16 &&
                  new String(bytes, i + 4, 4, "US-ASCII") == "Exif" &&
                  u8(i + 8) == 0 && u8(i + 9) == 0) {
                app1 = i; app1Len = len; scanning = false
              } else i += 2 + len
            }
          }
        }
      }
      if (app1 < 0) return stripExif(bytes) // GPS seen but APP1 not re-found
      val tiff = app1 + 10
      val end = app1 + 2 + app1Len
      val le = u8(tiff) == 0x49 && u8(tiff + 1) == 0x49
      def r16(p: Int): Int =
        if (le) u8(p) | (u8(p + 1) << 8) else (u8(p) << 8) | u8(p + 1)
      def r32(p: Int): Long =
        if (le) u8(p).toLong | (u8(p + 1).toLong << 8) |
          (u8(p + 2).toLong << 16) | (u8(p + 3).toLong << 24)
        else (u8(p).toLong << 24) | (u8(p + 1).toLong << 16) |
          (u8(p + 2).toLong << 8) | u8(p + 3).toLong
      def typeSize(t: Int): Int = t match {
        case 1 | 2 | 6 | 7 => 1
        case 3 | 8 => 2
        case 4 | 9 | 11 => 4
        case 5 | 10 | 12 => 8
        case _ => 0 // unknown TIFF type — surgery unsafe
      }
      final case class E(tag: Int, typ: Int, count: Long,
          inline: Array[Byte], outline: Option[Array[Byte]], sub: Option[Seq[E]])
      // parse one IFD into rebuild-able entries; None = surgery unsafe
      def parseIfd(ifd: Int, depth: Int): Option[Seq[E]] = {
        if (depth > 3 || ifd + 2 > end) return None
        val n = r16(ifd)
        if (n > 64 || ifd + 2 + n * 12 + 4 > end) return None
        val out = Seq.newBuilder[E]
        var k = 0
        while (k < n) {
          val e = ifd + 2 + k * 12
          val tag = r16(e)
          val typ = r16(e + 2)
          val count = r32(e + 4)
          if (tag == 0x8825) () // the GPSInfo entry — dropped (its sub-IFD
                                // is simply never copied)
          else if (tag == 0x8769 || tag == 0xa005) {
            // Exif / Interop sub-IFD pointer: rebuild the target
            if (typ != 4 || count != 1L) return None
            val subOff = r32(e + 8)
            if (subOff < 8 || tiff + subOff + 2 > end) return None
            parseIfd(tiff + subOff.toInt, depth + 1) match {
              case Some(sub) => out += E(tag, typ, count, Array.empty, None, Some(sub))
              case None => return None
            }
          } else {
            val ts = typeSize(typ)
            if (ts == 0) return None
            val vbytes = ts.toLong * count
            if (vbytes <= 4) {
              out += E(tag, typ, count,
                java.util.Arrays.copyOfRange(bytes, e + 8, e + 12), None, None)
            } else {
              if (vbytes > (end - tiff).toLong) return None
              val off = r32(e + 8)
              if (off < 8 || tiff + off + vbytes > end) return None
              out += E(tag, typ, count, Array.empty,
                Some(java.util.Arrays.copyOfRange(bytes,
                  tiff + off.toInt, tiff + off.toInt + vbytes.toInt)), None)
            }
          }
          k += 1
        }
        Some(out.result())
      }
      val ifd0Off = r32(tiff + 4)
      if (!(u8(tiff) == 0x49 && u8(tiff + 1) == 0x49) &&
          !(u8(tiff) == 0x4d && u8(tiff + 1) == 0x4d)) return stripExif(bytes)
      if (r16(tiff + 2) != 42 || ifd0Off < 8 || ifd0Off > (end - tiff).toLong)
        return stripExif(bytes)
      parseIfd(tiff + ifd0Off.toInt, 0) match {
        case None => stripExif(bytes) // surgery unsafe: fail CLOSED
        case Some(ifd0) =>
          // serialize: header(8) | IFDs in pre-order | value area.
          // Sizes are computable up front: each IFD = 2 + 12n + 4.
          val buf = new java.io.ByteArrayOutputStream(app1Len)
          def w8(v: Int): Unit = buf.write(v & 0xff)
          def w16(v: Int): Unit =
            if (le) { w8(v); w8(v >> 8) } else { w8(v >> 8); w8(v) }
          def w32(v: Long): Unit =
            if (le) { w16((v & 0xffff).toInt); w16(((v >>> 16) & 0xffff).toInt) }
            else { w16(((v >>> 16) & 0xffff).toInt); w16((v & 0xffff).toInt) }
          def ifdSize(es: Seq[E]): Int = 2 + es.size * 12 + 4
          def totalIfdSize(es: Seq[E]): Int =
            ifdSize(es) + es.flatMap(_.sub).map(totalIfdSize).sum
          // lay out: this IFD, then (recursively) each sub-IFD, then
          // out-of-line values in entry order after ALL IFDs
          val valueBase = 8 + totalIfdSize(ifd0)
          var valueCursor = valueBase
          val values = Seq.newBuilder[Array[Byte]]
          // Placements in write order; each carries the offsets assigned
          // to ITS sub-IFD children in entry order. Child offsets are
          // keyed by PLACEMENT (position in this IFD), never by value —
          // a value-keyed Map[Seq[E], Int] collapses two sub-IFDs that
          // parse to identical entry sequences (e.g. both empty) onto one
          // placement, leaving one pointer aimed at the other's bytes
          // (r12 verdict item 8). Exact by construction instead.
          def layout(es: Seq[E], at: Int): Seq[(Seq[E], Int, Seq[Int])] = {
            var subAt = at + ifdSize(es)
            val childOffs = Seq.newBuilder[Int]
            val childPlacements = Seq.newBuilder[(Seq[E], Int, Seq[Int])]
            es.flatMap(_.sub).foreach { sub =>
              childOffs += subAt
              childPlacements ++= layout(sub, subAt)
              subAt += totalIfdSize(sub)
            }
            (es, at, childOffs.result()) +: childPlacements.result()
          }
          val placements = layout(ifd0, 8)
          placements.foreach { case (es, at, childOffs) =>
            // buf holds everything after the 8-byte TIFF header
            require(buf.size() == at - 8,
              s"IFD layout drift: wrote ${buf.size()}, expected ${at - 8}")
            w16(es.size)
            var ci = 0
            es.foreach { en =>
              w16(en.tag); w16(en.typ); w32(en.count)
              en.sub match {
                case Some(_) => w32(childOffs(ci).toLong); ci += 1
                case None => en.outline match {
                  case Some(v) =>
                    w32(valueCursor.toLong); values += v; valueCursor += v.length
                  case None =>
                    en.inline.foreach(b => w8(b & 0xff))
                }
              }
            }
            w32(0L) // no next IFD: the thumbnail chain is dropped on rebuild
          }
          val ifdBytes = buf.toByteArray
          val valueBytes = values.result().flatten.toArray
          val tiffOut = java.nio.ByteBuffer.allocate(8 + ifdBytes.length + valueBytes.length)
          val bo = if (le) 0x49 else 0x4d
          tiffOut.put(bo.toByte); tiffOut.put(bo.toByte)
          if (le) { tiffOut.put(42.toByte); tiffOut.put(0.toByte) }
          else { tiffOut.put(0.toByte); tiffOut.put(42.toByte) }
          if (le) { tiffOut.put(8.toByte); tiffOut.put(0.toByte); tiffOut.put(0.toByte); tiffOut.put(0.toByte) }
          else { tiffOut.put(0.toByte); tiffOut.put(0.toByte); tiffOut.put(0.toByte); tiffOut.put(8.toByte) }
          tiffOut.put(ifdBytes); tiffOut.put(valueBytes)
          val tiffArr = tiffOut.array()
          val newLen = 2 + 6 + tiffArr.length
          if (newLen > 65533) return stripExif(bytes)
          val out = new java.io.ByteArrayOutputStream(bytes.length)
          out.write(bytes, 0, app1)
          out.write(0xff); out.write(0xe1)
          out.write((newLen >> 8) & 0xff); out.write(newLen & 0xff)
          out.write("Exif".getBytes("US-ASCII")); out.write(0); out.write(0)
          out.write(tiffArr)
          out.write(bytes, app1 + 2 + app1Len, bytes.length - (app1 + 2 + app1Len))
          val result = out.toByteArray
          // post-condition: the GPS pointer must be GONE; anything else
          // means the rebuild missed it — fail closed
          if (detectExifGps(result)) stripExif(bytes) else result
      }
    } catch { case scala.util.control.NonFatal(_) => stripExif(bytes) }
  }

  final case class DocMedia(doc_id: Long, format: String, dim1: Long, dim2: Long)

  /** F14 core — sniff a payload column (batch-shaped mapPartitions, the
    * m2 convention). Input (doc_id, payload) → (doc_id, format, dim1,
    * dim2).
    */
  def sniffPayloads(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions(_.map { p =>
        val (f, d1, d2) = sniffMedia(p.payload)
        DocMedia(p.doc_id, f, d1, d2)
      })
      .toDF()
  }

  // F14 — the fixture plants REAL media with doc_id-determined headers
  // across SEVEN classes (PNG/JPEG via the real JDK encoders — every
  // JPEG additionally carries a spliced EXIF orientation 1..8 in
  // alternating byte orders, so the oriented-dims contract is
  // oracle-checked, not just spec'd — WAV/AVI via the repo's own
  // codecs, MP3/MP4 via the hand-built-header builders — no encoder
  // exists here for those, the gif/bmp spec convention promoted into
  // the oracle fixture — and text bytes for the unknown class), so the
  // DuckDB oracle recomputes every expected
  // (format, dim1, dim2) from doc_id ARITHMETIC alone — the hash match
  // proves the encode → sniff round-trip recovers exactly the planted
  // headers (the m11/m12 formula-recomputing convention). Per-class
  // moduli are all coprime with the class selector 7, so no leg
  // degenerates to a constant.
  private val Mp3Bitrates = Array(0L, 32L, 40L, 48L, 56L, 64L, 80L, 96L,
    112L, 128L, 160L, 192L, 224L, 256L, 320L, 0L)
  private val Mp3Rates = Array(44100L, 48000L, 32000L, 0L)

  private val m14 = Relational.Q(
    "m14_media_sniff",
    (s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val payload = (id % 7) match {
            case 0 => ImageCodec.encodeGrayPng((1 + id % 13).toInt, (1 + id % 11).toInt)(
              (x, y) => ((x * 31 + y * 17 + id) % 256).toInt)
            case 1 => AudioCodec.encodePcm16Wav(
              (8000 + (id % 5) * 1000).toInt, (1 + id % 2).toInt,
              Array.tabulate(64)(i => ((i * 7 + id) % 251).toShort))
            case 2 => VideoCodec.encodeAvi(
              Seq.tabulate((1 + id % 3).toInt)(f =>
                Array.tabulate(16)(i => ((i + f + id) % 256).toByte)))
            case 3 =>
              // oriented JPEGs: orientation 1..8 cycles across the class
              // (gcd(7,8)=1 → full coverage), alternating II/MM byte
              // order; 5–8 are the transposed placements, so the sniffed
              // display dims are the planted SOF dims SWAPPED
              spliceExifOrientation(
                ImageCodec.encodeGrayJpeg((1 + id % 11).toInt, (1 + id % 9).toInt)(
                  (x, y) => ((x * 13 + y * 29 + id) % 256).toInt),
                orientation = (1 + id % 8).toInt,
                littleEndian = id % 2 == 0)
            case 4 => encodeMp3Header((1 + id % 13).toInt, (id % 3).toInt)
            case 5 => encodeMp4Header((16 + id % 32).toInt, (16 + id % 24).toInt)
            case _ => r.getString(1).getBytes("UTF-8")
          }
          (id, payload)
        }
        .toDF("doc_id", "payload")
      sniffPayloads(payloads).orderBy(col("doc_id"))
    },
    Some {
      val brSql = Mp3Bitrates.zipWithIndex
        .map { case (v, i) => s"WHEN $i THEN $v" }.mkString(" ")
      val srSql = Mp3Rates.zipWithIndex
        .map { case (v, i) => s"WHEN $i THEN $v" }.mkString(" ")
      s"""
      SELECT doc_id,
        CASE doc_id % 7 WHEN 0 THEN 'png' WHEN 1 THEN 'wav'
                        WHEN 2 THEN 'avi' WHEN 3 THEN 'jpeg'
                        WHEN 4 THEN 'mp3' WHEN 5 THEN 'mp4'
                        ELSE 'unknown' END AS format,
        CAST(CASE doc_id % 7 WHEN 0 THEN 1 + doc_id % 13
                             WHEN 1 THEN 1 + doc_id % 2
                             WHEN 2 THEN 1 + doc_id % 3
                             WHEN 3 THEN CASE WHEN 1 + doc_id % 8 >= 5
                                         THEN 1 + doc_id % 9 ELSE 1 + doc_id % 11 END
                             WHEN 4 THEN CASE CAST(1 + doc_id % 13 AS INTEGER) $brSql END
                             WHEN 5 THEN 16 + doc_id % 32
                             ELSE 0 END AS BIGINT) AS dim1,
        CAST(CASE doc_id % 7 WHEN 0 THEN 1 + doc_id % 11
                             WHEN 1 THEN 8000 + (doc_id % 5) * 1000
                             WHEN 3 THEN CASE WHEN 1 + doc_id % 8 >= 5
                                         THEN 1 + doc_id % 11 ELSE 1 + doc_id % 9 END
                             WHEN 4 THEN CASE CAST(doc_id % 3 AS INTEGER) $srSql END
                             WHEN 5 THEN 16 + doc_id % 24
                             ELSE 0 END AS BIGINT) AS dim2
      FROM documents ORDER BY doc_id"""
    })

  /** F15 — PAYLOAD BYTE-CLASS STATS (the triage stage BEFORE m14's
    * format sniffing: a mixed-provenance payload column contains
    * text-shipped-as-bytes, real media, and junk; routing them needs
    * only byte-class counting, no parsing at all). Per blob: printable
    * count (0x20–0x7E plus tab/LF/CR), control count (other <0x20 plus
    * DEL), high-bit count (≥0x80), and a class — `empty`, `text`
    * (printable ≥ 95%, integer cross-multiplication), else `binary`.
    * One pass over each blob's bytes inside mapPartitions (the m2/m14
    * batch shape): constant work per byte, no allocation, so typing a
    * 100 TB payload column is scan-bound.
    */
  def payloadByteStats(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions(_.map { p =>
        val bytes = if (p.payload == null) Array.empty[Byte] else p.payload
        var printable = 0L
        var control = 0L
        var highbit = 0L
        var i = 0
        while (i < bytes.length) {
          val b = bytes(i) & 0xff
          if (b >= 0x80) highbit += 1
          else if ((b >= 0x20 && b <= 0x7e) || b == 9 || b == 10 || b == 13) printable += 1
          else control += 1
          i += 1
        }
        val n = bytes.length.toLong
        val cls =
          if (n == 0L) "empty"
          else if (printable * 100L >= 95L * n) "text"
          else "binary"
        (p.doc_id, n, printable, control, highbit, cls)
      })
      .toDF("doc_id", "n_bytes", "n_printable", "n_control", "n_highbit", "media_class")
  }

  // F15 — the fixture plants ARITHMETIC payloads (every byte a formula
  // of (doc_id, position)), so the DuckDB oracle recomputes all four
  // counts and the class from doc_id arithmetic alone — the m14
  // convention taken all the way down to byte level. Classes by
  // doc_id % 3: full-range bytes (binary), printable-confined bytes
  // (text), empty.
  private val m15 = Relational.Q(
    "m15_payload_byte_stats",
    (s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"))
        .map { r =>
          val id = r.getLong(0)
          val payload = (id % 3) match {
            case 2 => Array.empty[Byte]
            case 0 =>
              Array.tabulate((64 + id % 17).toInt)(i => ((id * 31 + i * 7) % 256).toByte)
            case _ =>
              Array.tabulate((64 + id % 17).toInt)(i => (32 + (id * 13 + i * 11) % 95).toByte)
          }
          (id, payload)
        }
        .toDF("doc_id", "payload")
      payloadByteStats(payloads).orderBy(col("doc_id"))
    },
    Some("""
      WITH n AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 64 + doc_id % 17 END AS nb
        FROM documents),
      b AS (
        SELECT doc_id,
          CASE WHEN doc_id % 3 = 0 THEN (doc_id*31 + i*7) % 256
               ELSE 32 + (doc_id*13 + i*11) % 95 END AS v
        FROM n, UNNEST(range(0, nb)) AS t(i)),
      agg AS (
        SELECT doc_id, COUNT(*) AS n_bytes,
          CAST(SUM(CASE WHEN (v >= 32 AND v <= 126) OR v IN (9, 10, 13) THEN 1 ELSE 0 END) AS BIGINT) AS n_printable,
          CAST(SUM(CASE WHEN v < 128 AND NOT ((v >= 32 AND v <= 126) OR v IN (9, 10, 13)) THEN 1 ELSE 0 END) AS BIGINT) AS n_control,
          CAST(SUM(CASE WHEN v >= 128 THEN 1 ELSE 0 END) AS BIGINT) AS n_highbit
        FROM b GROUP BY doc_id)
      SELECT n.doc_id,
        COALESCE(a.n_bytes, 0) AS n_bytes,
        COALESCE(a.n_printable, 0) AS n_printable,
        COALESCE(a.n_control, 0) AS n_control,
        COALESCE(a.n_highbit, 0) AS n_highbit,
        CASE WHEN COALESCE(a.n_bytes, 0) = 0 THEN 'empty'
             WHEN COALESCE(a.n_printable, 0) * 100 >= 95 * a.n_bytes THEN 'text'
             ELSE 'binary' END AS media_class
      FROM n LEFT JOIN agg a ON n.doc_id = a.doc_id
      ORDER BY n.doc_id"""))

  final case class DocScrub(doc_id: Long, had_gps: Boolean,
      bytes_removed: Long, format_after: String, gps_after: Boolean)

  /** F16 core — EXIF GPS detection + scrub over a payload column (the
    * m2/m14 batch shape): image datasets must find and remove the
    * GPSInfo IFD (location PII) before anything ships. One bounded
    * header walk per blob for detection, one marker-walk rebuild for
    * the scrub — constant work per byte, scan-bound at 100 TB.
    */
  def scrubExifGps(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions(_.map { p =>
        val hadGps = detectExifGps(p.payload)
        val stripped = stripExif(p.payload)
        DocScrub(p.doc_id, hadGps,
          (p.payload.length - stripped.length).toLong,
          sniffMedia(stripped)._1, detectExifGps(stripped))
      })
      .toDF()
  }

  final case class DocScrub2(doc_id: Long, had_gps: Boolean,
      bytes_removed: Long, format_after: String, gps_after: Boolean,
      orientation_after: Long)

  /** F17 core — the SURGICAL GPS scrub over a payload column (m17):
    * [[stripExifGpsOnly]] per blob, emitting the orientation that
    * SURVIVED the scrub alongside m16's detection/removal columns —
    * the production contract m16's whole-APP1 drop cannot meet
    * (orientation kept, GPS gone, everything else untouched).
    */
  def scrubExifGpsSurgical(payloads: DataFrame): DataFrame = {
    val spark = payloads.sparkSession
    import spark.implicits._
    payloads.select(col("doc_id"), col("payload"))
      .as[DocPayload]
      .mapPartitions(_.map { p =>
        val hadGps = detectExifGps(p.payload)
        val scrubbed = stripExifGpsOnly(p.payload)
        DocScrub2(p.doc_id, hadGps,
          (p.payload.length - scrubbed.length).toLong,
          sniffMedia(scrubbed)._1, detectExifGps(scrubbed),
          exifIfd0ShortValue(scrubbed, 0x0112).getOrElse(0).toLong)
      })
      .toDF()
  }

  // F17 — surgical GPS-only scrub (r11 verdict item 6). Same planted
  // classes as m16; the oracle additionally pins ORIENTATION SURVIVAL
  // (the planted 1+id%8 must still read back after the scrub) and the
  // exact surgical byte count: the GPS class loses exactly its GPSInfo
  // entry (12) + empty GPS IFD (6) = 18 bytes, the orientation-only and
  // text classes are byte-identical (removed = 0) — proving the scrub
  // is a no-op without PII and minimal with it.
  private val m17 = Relational.Q(
    "m17_exif_gps_surgical",
    (s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val payload = (id % 3) match {
            case 0 => spliceExif(
              ImageCodec.encodeGrayJpeg((1 + id % 11).toInt, (1 + id % 9).toInt)(
                (x, y) => ((x * 13 + y * 29 + id) % 256).toInt),
              orientation = (1 + id % 8).toInt, littleEndian = id % 2 == 0, gps = true)
            case 1 => spliceExif(
              ImageCodec.encodeGrayJpeg((1 + id % 11).toInt, (1 + id % 9).toInt)(
                (x, y) => ((x * 13 + y * 29 + id) % 256).toInt),
              orientation = (1 + id % 8).toInt, littleEndian = id % 2 == 0, gps = false)
            case _ => r.getString(1).getBytes("UTF-8")
          }
          (id, payload)
        }
        .toDF("doc_id", "payload")
      scrubExifGpsSurgical(payloads).orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
        doc_id % 3 = 0 AS had_gps,
        CAST(CASE WHEN doc_id % 3 = 0 THEN 18 ELSE 0 END AS BIGINT)
          AS bytes_removed,
        CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'jpeg' END AS format_after,
        FALSE AS gps_after,
        CAST(CASE WHEN doc_id % 3 = 2 THEN 0 ELSE 1 + doc_id % 8 END AS BIGINT)
          AS orientation_after
      FROM documents ORDER BY doc_id"""))

  // F16 — EXIF GPS scrub. The fixture plants three classes from doc_id
  // arithmetic: GPS+orientation JPEGs (the PII class — a 54-byte APP1
  // with a GPSInfo pointer to an in-segment empty GPS IFD, alternating
  // byte orders), orientation-only JPEGs (36-byte APP1, metadata but no
  // PII), and raw text bytes (the scrub must pass untouched). The
  // DuckDB oracle recomputes detection, the exact byte count removed,
  // the post-scrub type, and the gps-gone contract from doc_id
  // arithmetic alone (the m14 convention) — the hash proves the
  // plant → detect → strip → re-detect round trip byte-exactly.
  private val m16 = Relational.Q(
    "m16_exif_gps_scrub",
    (s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"), col("text"))
        .map { r =>
          val id = r.getLong(0)
          val payload = (id % 3) match {
            case 0 => spliceExif(
              ImageCodec.encodeGrayJpeg((1 + id % 11).toInt, (1 + id % 9).toInt)(
                (x, y) => ((x * 13 + y * 29 + id) % 256).toInt),
              orientation = (1 + id % 8).toInt, littleEndian = id % 2 == 0, gps = true)
            case 1 => spliceExif(
              ImageCodec.encodeGrayJpeg((1 + id % 11).toInt, (1 + id % 9).toInt)(
                (x, y) => ((x * 13 + y * 29 + id) % 256).toInt),
              orientation = (1 + id % 8).toInt, littleEndian = id % 2 == 0, gps = false)
            case _ => r.getString(1).getBytes("UTF-8")
          }
          (id, payload)
        }
        .toDF("doc_id", "payload")
      scrubExifGps(payloads).orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
        doc_id % 3 = 0 AS had_gps,
        CAST(CASE doc_id % 3 WHEN 0 THEN 54 WHEN 1 THEN 36 ELSE 0 END AS BIGINT)
          AS bytes_removed,
        CASE WHEN doc_id % 3 = 2 THEN 'unknown' ELSE 'jpeg' END AS format_after,
        FALSE AS gps_after
      FROM documents ORDER BY doc_id"""))

  // F18 — the REAL image-decode path DRIVER-GATED (round 12): planted
  // 8x8 gray PNGs (pixel (x,y) = (13x + 29y + doc_id) mod 256, encoded
  // by the repo's own JDK writer EXECUTOR-SIDE) flow through the real
  // javax.imageio decode behind the batched seam
  // (ImageCodec.batchFeaturesOrStub), and because PNG is LOSSLESS and
  // an 8x8→8x8 thumbnail draw is measured pixel-IDENTITY (probed over
  // the full 0..255 range and a non-constant pattern before this row
  // shipped), every decoded feature re-integerizes to the planted
  // formula: DuckDB replays two endpoint features AND the 64-term sum
  // from doc_id arithmetic — the decode SEAM itself is now
  // oracle-checked for lossless formats; only entropy-coded JPEG decode
  // remains declared.
  private val m18 = Relational.Q(
    "m18_real_decode_features",
    (s, d) => {
      import s.implicits._
      val payloads = Tables.documents(s, d)
        .select(col("doc_id"))
        .map { r =>
          val id = r.getLong(0)
          (id, ImageCodec.encodeGrayPng(8, 8)((x, y) =>
            ((13 * x + 29 * y + id) % 256).toInt))
        }
        .toDF("doc_id", "payload")
      extractFeaturesBatched(payloads, decoder = ImageCodec.batchFeaturesOrStub)
        .select(col("doc_id"),
          size(col("features")).cast("long").as("n_features"),
          round(element_at(col("features"), 1) * 255).cast("long").as("f0_int"),
          round(element_at(col("features"), 64) * 255).cast("long").as("f63_int"),
          aggregate(transform(col("features"),
              f => round(f * 255).cast("long")),
            lit(0L), (a, x) => a + x).as("f_sum"))
        .persist()
        .orderBy(col("doc_id"))
    },
    Some("""
      SELECT doc_id,
        CAST(64 AS BIGINT) AS n_features,
        CAST(doc_id % 256 AS BIGINT) AS f0_int,
        CAST((294 + doc_id) % 256 AS BIGINT) AS f63_int,
        CAST(list_reduce(
          [(13 * (i % 8) + 29 * (i // 8) + doc_id) % 256 FOR i IN range(0, 64)],
          (a, b) -> a + b) AS BIGINT) AS f_sum
      FROM documents ORDER BY doc_id"""))

  val all: Seq[Relational.Q] = Seq(m1, m2, m3, m4, m5, m6, m7, m8, m9, m10,
    m11, m12, m13, m14, m15, m16, m17, m18)
}
