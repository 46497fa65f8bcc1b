package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.SparkEntry.{QueryDef, Sql, SqlFn}

/** Multimodal-column plumbing (north-star extension): media payloads as
  * opaque `binary` columns + typed metadata, with decode/feature
  * extraction running as BATCHED partition-local functions over
  * Dataset[T] (the JVM analog of the mapInPandas batch shape: one
  * iterator in, one iterator out, nothing collected to the driver).
  *
  * The actual media decode is STUBBED (this container has no
  * image/audio codecs): `decodeStub` derives deterministic pseudo
  * metadata/features from the raw bytes. The Spark-side contract —
  * binary column handling, case-class schemas, partition-batched
  * execution, oracle-checkable determinism — is real and tested; a
  * production deployment swaps `decodeStub` for a codec call with the
  * same signature.
  *
  * The `documents.text` UTF-8 bytes stand in for media payloads (the
  * test corpus is ASCII, so the DuckDB oracle can mirror byte math via
  * ascii()/substr()).
  */
object Multimodal {

  /** The byte-plane sample array as ONE codegen'd pass (r15
    * optimization): replaces `transform(split(text, ""), ascii)` and
    * its empty-filtered variant — per-char UTF8String allocation plus
    * an interpreted lambda per element — with
    * [[graft.functions.AsciiCodes]] (value-identical; the trailing ""
    * element Java's split(-1) yields was consumed by no operator:
    * every index/slice is bounded by the char count, and the filtered
    * sites dropped it explicitly). Guide §1.2 step 2 / §4.
    */
  private[graft] def asciiCodes(c: Column): Column =
    org.apache.spark.sql.graft.Shims.column(
      graft.functions.AsciiCodes(
        org.apache.spark.sql.graft.Shims.expression(c)))

  // r15 frame-fold kernels: one clamped loop per frame instead of an
  // interpreted aggregate(slice(...)) lambda chain — value-identical,
  // spec-pinned in ByteplaneExprsSpec (guide §1.2 step 2).
  private def kexp(c: Column) = org.apache.spark.sql.graft.Shims.expression(c)
  private def kcol(e: org.apache.spark.sql.catalyst.expressions.Expression) =
    org.apache.spark.sql.graft.Shims.column(e)
  private def sliceSumL(arr: Column, start: Column, len: Int): Column =
    kcol(graft.functions.SliceSumLong(kexp(arr), kexp(start), len))
  private def sliceSumSqL(arr: Column, start: Column, len: Int): Column =
    kcol(graft.functions.SliceSumSqLong(kexp(arr), kexp(start), len))
  private def sliceMaxI(arr: Column, start: Column, len: Int): Column =
    kcol(graft.functions.SliceMaxInt(kexp(arr), kexp(start), len))
  private def bandedSig(arr: Column, start: Column, width: Int, bits: Int): Column =
    kcol(graft.functions.BandedSig(kexp(arr), kexp(start), width, bits))

  /** A media row: opaque payload + declared type. */
  case class MediaRow(doc_id: Long, payload: Array[Byte], media_type: String)

  /** Extracted metadata. The byte-derived fields (n_bytes, first/last
    * byte, header_sum) come straight off the payload for every format;
    * width/height/channels are REAL decoded values for formats the JVM
    * can decode (PNG/GIF/BMP via javax.imageio) and deterministic
    * pseudo-values from the stub for everything else.
    */
  case class MediaMeta(doc_id: Long, n_bytes: Int, first_byte: Int,
      last_byte: Int, header_sum: Long, width: Int, height: Int,
      channels: Int)

  /** documents → media rows: payload = UTF-8 bytes of text. */
  def mediaTable(s: SparkSession, dir: String): Dataset[MediaRow] = {
    import s.implicits._
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"),
        concat(lit("fake/"), col("source")).as("media_type"))
      .as[MediaRow]
  }

  /** STUB decoder: deterministic pseudo-decode of a payload for formats
    * the JVM has no codec for (audio, video, JPEG-without-plugins…) —
    * metadata is derived from the bytes themselves (and mirrored
    * exactly by the DuckDB oracle). A production deployment swaps this
    * for the codec call with the same signature.
    */
  private[graft] def decodeStub(r: MediaRow): MediaMeta = {
    // null payload (a 100 TB corpus will have them) decodes as the
    // empty blob: the row stays accounted for — the m5 principle —
    // instead of NPE-ing the whole partition
    val b = if (r.payload == null) Array.emptyByteArray else r.payload
    val n = b.length
    val first = if (n > 0) b(0) & 0xff else 0
    val last = if (n > 0) b(n - 1) & 0xff else 0
    var i = 0; var hs = 0L
    while (i < math.min(16, n)) { hs += (b(i) & 0xff); i += 1 }
    MediaMeta(r.doc_id, n, first, last, hs,
      width = n % 640, height = first % 480, channels = 3)
  }

  /** REAL decoder for JVM-supported image formats (PNG/GIF/BMP via
    * javax.imageio): decoded width/height and raster band count, the
    * byte-derived fields identical to the stub's. None when the payload
    * does not decode (corrupt bytes, unsupported format) — the caller
    * falls back to the stub, so one bad blob can never fail a
    * partition.
    */
  private[graft] def decodeImage(r: MediaRow): Option[MediaMeta] =
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(r.payload))
      if (img == null) None
      else Some(decodeStub(r).copy(width = img.getWidth,
        height = img.getHeight, channels = img.getRaster.getNumBands))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Batched partition-local metadata extraction: mapPartitions over the
    * typed Dataset, processing rows in fixed-size batches (the batch
    * boundary is where a real decoder would amortize model/codec init,
    * exactly like mapInPandas' Arrow batches). Rows declaring an
    * `image/...` media type take the real javax.imageio decode (stub
    * fallback on failure); everything else is stub-decoded.
    */
  def extractMeta(media: Dataset[MediaRow], batchSize: Int = 64): Dataset[MediaMeta] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-batch/partition init: in-memory decode only — the default
      // ImageIO path spills a disk cache file per read
      javax.imageio.ImageIO.setUseCache(false)
      rows.grouped(batchSize).flatMap { batch =>
        batch.map { r =>
          if (r.media_type.startsWith("image/"))
            decodeImage(r).getOrElse(decodeStub(r))
          else decodeStub(r)
        }
      }
    }
  }

  /** A sampled image tile (the image analog of m3's frame sampling):
    * tile top-left at (x, y), digest over the raw decoded ARGB pixels —
    * encoder-independent, so the value is stable across PNG writer
    * implementations.
    */
  case class TileRow(doc_id: Long, tile_idx: Int, x: Int, y: Int,
      tile_md5: String)

  /** m3's REAL-decode analog: decode each image and emit fixed-size
    * tiles on a stride grid (row-major), each with a digest of its
    * decoded pixels — what a vision pipeline feeds per-tile embedding
    * models. Same batched mapPartitions contract as extractMeta;
    * undecodable payloads yield no tiles (they are the stub path's
    * concern). Images smaller than one tile yield no rows, mirroring
    * frameSample's short-payload contract.
    */
  def sampleTiles(media: Dataset[MediaRow], tile: Int = 16,
      stride: Int = 64, batchSize: Int = 64): Dataset[TileRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          decodeBuffered(r).toSeq.flatMap { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            val xs = 0 to (w - tile) by stride
            val ys = 0 to (h - tile) by stride
            val buf = new Array[Int](tile * tile)
            ys.flatMap(y => xs.map(x => (x, y))).zipWithIndex.map {
              case ((x, y), i) =>
                img.getRGB(x, y, tile, tile, buf, 0, tile)
                md.reset()
                val bb = java.nio.ByteBuffer.allocate(buf.length * 4)
                bb.asIntBuffer().put(buf)
                TileRow(r.doc_id, i, x, y,
                  md.digest(bb.array()).map("%02x".format(_)).mkString)
            }
          }
        }
      }
    }
  }

  private def decodeBuffered(r: MediaRow): Option[java.awt.image.BufferedImage] =
    try Option(javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(r.payload)))
    catch { case scala.util.control.NonFatal(_) => None }

  /** One resized image: input/output dims + digest of the resized
    * decoded pixels (encoder-independent, like TileRow).
    */
  case class ResizedRow(doc_id: Long, width: Int, height: Int,
      out_width: Int, out_height: Int, out_md5: String)

  /** m4's REAL-decode analog: decode, scale so the longest edge is
    * `maxDim` (never upscale), digest the resized pixels. Bilinear via
    * Graphics2D — deterministic for a given raster. Same batched
    * contract; undecodable payloads yield no rows.
    */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int = 64,
      batchSize: Int = 64): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.grouped(batchSize).flatMap { batch =>
        batch.flatMap { r =>
          decodeBuffered(r).map { img =>
            val (w, h) = (img.getWidth, img.getHeight)
            val scale = math.min(1.0, maxDim.toDouble / math.max(w, h))
            val (ow, oh) = (math.max(1, math.round(w * scale).toInt),
              math.max(1, math.round(h * scale).toInt))
            val out = new java.awt.image.BufferedImage(ow, oh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
              java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
            g.drawImage(img, 0, 0, ow, oh, null)
            g.dispose()
            val px = out.getRGB(0, 0, ow, oh, null, 0, ow)
            md.reset()
            val bb = java.nio.ByteBuffer.allocate(px.length * 4)
            bb.asIntBuffer().put(px)
            ResizedRow(r.doc_id, w, h, ow, oh,
              md.digest(bb.array()).map("%02x".format(_)).mkString)
          }
        }
      }
    }
  }

  /** The oracle-checked query: media metadata via the batched decode
    * path, ordered for the compare.
    */
  def mediaMeta(s: SparkSession, dir: String): DataFrame =
    extractMeta(Tables.spreadN(mediaTable(s, dir))).toDF().orderBy("doc_id")

  /** m3 — frame sampling: explode each payload into fixed-width
    * "frames" at a byte stride (the video frame-sample analog), with a
    * per-frame digest standing in for the decoded-frame feature. The
    * relational shape — a `sequence` generator + `posexplode`, never a
    * per-doc materialized frame list on the driver — is what scales:
    * frame rows stream out of codegen and any downstream per-frame
    * model call batches exactly like extractMeta. Payloads shorter than
    * one frame yield no rows (both engines).
    */
  def frameSample(s: SparkSession, dir: String,
      width: Int = 16, stride: Int = 64): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") >= width)
      .select(col("doc_id"), col("text"),
        posexplode(sequence(lit(1), col("n") - (width - 1), lit(stride))))
      .select(col("doc_id"),
        col("pos").cast("int").as("frame_idx"),
        col("col").cast("int").as("frame_offset"),
        md5(col("text").substr(col("col"), lit(width))).as("frame_md5"))
      .orderBy(col("doc_id"), col("frame_offset"))

  /** m4 — "resize": strided byte downsampling of each payload (every
    * `stride`-th byte, the 1-D analog of image decimation; a real
    * deployment swaps the byte picker for a codec resize with the same
    * per-row contract). Emits the downsampled length and digest rather
    * than the blob, keeping the compare value-typed. All built-in
    * array/string expressions — no UDF, stays in codegen.
    *
    * Edge cases mirror the oracle's range(1, n+1, stride): an empty
    * payload resizes to the empty string (sequence would reject
    * start > stop), and a NULL payload stays NULL end-to-end.
    */
  def mediaResize(s: SparkSession, dir: String, stride: Int = 4): DataFrame =
    resizeFrom(Tables.documents(s, dir), stride)

  /** The resize transform over any (doc_id, text) frame — split out so
    * the empty/NULL payload contract is testable on injected rows (the
    * shipped corpus has neither).
    */
  private[graft] def resizeFrom(docs: DataFrame, stride: Int = 4): DataFrame =
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .withColumn("resized",
        when(col("text").isNull, lit(null).cast("string"))
          .otherwise(concat_ws("", transform(
            when(col("n") >= 1, sequence(lit(1), col("n"), lit(stride)))
              .otherwise(array().cast("array<int>")),
            i => col("text").substr(i, lit(1))))))
      .select(col("doc_id"),
        col("n").as("n_bytes"),
        length(col("resized")).as("resized_bytes"),
        md5(col("resized")).as("resized_md5"))
      .orderBy(col("doc_id"))

  /** m6 — audio-style frame features: non-overlapping fixed-width
    * sample windows per payload with mean amplitude, RMS energy, and
    * peak — the waveform-feature pass an audio pipeline runs before
    * VAD/segmentation, with payload bytes standing in for PCM samples
    * (the codec stand-in contract of m1/m3; a production deployment
    * decodes real samples into the same per-frame shape). Everything is
    * a generator + higher-order-function aggregate in ONE codegen'd
    * projection: no shuffle, no per-doc frame list on the driver, and
    * the integer sums make the doubles bit-identical on both engines.
    *
    * The sample array is materialized ONCE per document (split to
    * chars + one ascii transform — a linear pass) and each frame is a
    * `slice` of it. The previous form rebuilt every frame with 64
    * independent `substr(o+j, 1)` calls, and UTF8String positional
    * substr scans from the string head — O(offset) per sample, O(len²)
    * per document; rewrite-time A/B at sf0.1: ~1.6× for the one-pass
    * layout (the residual is the per-frame aggregate folds, which are
    * the operator's actual work).
    */
  def audioEnergy(s: SparkSession, dir: String,
      width: Int = 64, stride: Int = 64): DataFrame = {
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") >= width)
      .select(col("doc_id"),
        asciiCodes(col("text")).as("samples"),
        posexplode(sequence(lit(1), col("n") - (width - 1), lit(stride))))
      .withColumnRenamed("col", "o")
      .select(col("doc_id"), col("pos").cast("int").as("frame_idx"),
        col("o").cast("int").as("frame_offset"),
        (sliceSumL(col("samples"), col("o"), width)
          / lit(width.toDouble)).as("mean_amp"),
        sqrt(sliceSumSqL(col("samples"), col("o"), width)
          / lit(width.toDouble)).as("rms_amp"),
        sliceMaxI(col("samples"), col("o"), width).as("peak"))
      .orderBy(col("doc_id"), col("frame_offset"))
  }

  /** m15 — per-channel normalization statistics: mean and stddev of
    * each interleaved channel (byte position mod 3 — the RGB stand-in
    * under the m1/m3 codec contract), the constants a vision pipeline
    * computes ONCE over the corpus and bakes into its preprocessing
    * (`(x - mean) / std` per channel). Variance is the integer-moment
    * form: `n·Σx² − (Σx)²` stays an EXACT long (n·Σx² < 2^41 at any
    * plausible payload), so the only floating ops are one divide and
    * one sqrt — both IEEE-correctly-rounded, bit-identical across
    * engines (the g4 decimal-moments argument, long-sized here).
    *
    * Scale posture: one codegen'd projection per doc — the channel
    * split is three strided `sequence`/`element_at` walks over the
    * materialized sample array (the m6 one-pass layout), exploded to
    * 3 rows per doc; no shuffle except the presentation sort. The
    * corpus-level constants are then one tiny aggregate over
    * (channel) — derivable from this output by merging the exact
    * per-doc moments (sums of longs), which is why the registered
    * output carries the raw moments, not just the derived doubles.
    */
  def channelStats(s: SparkSession, dir: String): DataFrame = {
    // both lets ride the m12 `bind` combinator: a withColumn alias
    // would be re-inlined by projection collapse into every consumer
    // (9 references to the sample array here), re-splitting the text
    // per reference — rewrite-time A/B at sf0.1: the bound form was
    // >10× faster than the re-inlined one (historical decision
    // record; current numbers live in the bench artifact)
    val stats = Multimodal.bind(
      asciiCodes(col("text")).cast("array<bigint>")) { samples =>
      transform(sequence(lit(0), lit(2)), ch =>
        Multimodal.bind(transform(sequence(ch + 1, size(samples), lit(3)),
          i => element_at(samples, i))) { xs =>
          struct(ch.cast("int").as("channel"),
            size(xs).cast("long").as("n_samples"),
            aggregate(xs, lit(0L), (a, x) => a + x).as("sum_x"),
            aggregate(xs, lit(0L), (a, x) => a + x * x).as("sum_x2"))
        })
    }
    Tables.documents(s, dir)
      .filter(length(col("text")) >= 3)
      .select(col("doc_id"), explode(stats).as("c"))
      .select(col("doc_id"), col("c.channel").as("channel"),
        col("c.n_samples").as("n_samples"),
        col("c.sum_x").as("sum_x"), col("c.sum_x2").as("sum_x2"))
      .withColumn("mean",
        col("sum_x").cast("double") / col("n_samples").cast("double"))
      .withColumn("stddev",
        sqrt((col("n_samples") * col("sum_x2") - col("sum_x") * col("sum_x"))
          .cast("double") /
          (col("n_samples") * col("n_samples")).cast("double")))
      .orderBy(col("doc_id"), col("channel"))
  }

  /** m16 — patch-embedding similarity bridge: the multimodal →
    * embedding → similarity-search pipeline in one query. Each
    * payload's leading side×side byte plane (m11's patchify contract)
    * is pooled per p×p patch into a (side/p)²-dim vector, and each
    * probe payload (doc_id % queryMod == 0) is ranked against the
    * corpus by cosine over those vectors — how a vision dedup/retrieval
    * pipeline actually consumes patch features (pool → embed → ANN),
    * bridging the m-family's byte planes into the s-family's
    * similarity machinery. A production deployment pools decoded
    * pixels or a ViT's patch activations through the same shape.
    *
    * Exactness: the embedding is the EXACT INTEGER patch-sum vector —
    * cosine is invariant under the uniform 1/p² scaling, so pooling
    * by SUM instead of mean changes nothing semantically and buys
    * bit-exactness structurally: dot products and squared norms are
    * sums of products of small integers (< 2^53 — exact longs in ANY
    * fold order, so not even aggregation order can drift), and the
    * one float expression per pair is dot/(√na·√nb) — three
    * correctly-rounded IEEE ops over exactly-representable operands,
    * written with the same tree in the oracle. Norms are always
    * positive (ASCII codes ≥ 1 on a full plane), so the divide is
    * total.
    *
    * Scale posture: embedding is a shuffle-free codegen projection
    * (the m15 `bind` lets); the probe set is a pmod filter, so the
    * candidate join is |probes|×|corpus| with a 16-element fold per
    * pair — the s1 brute-force shape, and the s2/s19 banding paths
    * apply unchanged to the patch vectors when the probe set grows
    * (they key on the vector, not its provenance). Top-k per probe is
    * a WindowGroupLimit, never a global sort.
    */
  def patchEmbedTopK(s: SparkSession, dir: String, side: Int = 16,
      p: Int = 4, k: Int = 3, queryMod: Int = 50): DataFrame =
    patchEmbedTopKFrom(
      Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.Tables.spread(_, col("doc_id"))),
      side, p, k, queryMod)

  /** The relation form for spec-planted payloads ((doc_id, text)). */
  private[graft] def patchEmbedTopKFrom(docs: DataFrame, side: Int = 16,
      p: Int = 4, k: Int = 3, queryMod: Int = 50): DataFrame = {
    require(side % p == 0, s"side $side must be divisible by patch $p")
    val g = side / p
    val dims = g * g
    val codes =
      slice(asciiCodes(col("text")), 1, side * side).cast("array<bigint>")
    // patch kk (row-major pr=kk÷g, pc=kk%g) pools elements j
    // (r=j÷p, c=j%p) at plane index (pr·p+r)·side + pc·p + c (+1 for
    // element_at's 1-base) — all integer Column arithmetic
    val emb = Multimodal.bind(codes) { cs =>
      transform(sequence(lit(0), lit(dims - 1)), kk => {
        val pr = (kk / lit(g)).cast("int")
        val pc = pmod(kk, lit(g))
        aggregate(
          transform(sequence(lit(0), lit(p * p - 1)), j => {
            val r = (j / lit(p)).cast("int")
            val c = pmod(j, lit(p))
            element_at(cs,
              ((pr * p + r) * side + pc * p + c + 1).cast("int"))
          }),
          lit(0L), (a, x) => a + x)
      })
    }
    val vecs = docs
      .filter(length(col("text")) >= side * side)
      .select(col("doc_id"), emb.as("e"))
      .withColumn("n2",
        aggregate(zip_with(col("e"), col("e"), (a, b) => a * b),
          lit(0L), (a, x) => a + x))
      .cache()
    val q = vecs.filter(pmod(col("doc_id"), lit(queryMod)) === 0)
      .select(col("doc_id").as("query_id"), col("e").as("qe"),
        col("n2").as("na"))
    val c = vecs.select(col("doc_id").as("neighbor_id"),
      col("e").as("ne"), col("n2").as("nb"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("dot",
        aggregate(zip_with(col("qe"), col("ne"), (a, b) => a * b),
          lit(0L), (a, x) => a + x))
      .withColumn("cos", col("dot").cast("double") /
        (sqrt(col("na").cast("double")) * sqrt(col("nb").cast("double"))))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** m7 — perceptual (average-hash) signature per payload: the aHash
    * family's shape (public: mean-threshold bits over downsampled
    * content) computed on the payload samples directly — 60 positional
    * buckets over the sample stream, bit b set iff bucket b's mean
    * exceeds the payload mean. Unlike m5's exact digest, near-identical
    * payloads (re-encodes, small edits) land within a small hamming
    * radius, so [[mediaPHashPairs]] finds them with the lossless
    * multi-probe hamming join. A production deployment feeds DECODED pixels/PCM
    * into the same bucket-mean shape; here payload codepoints stand in
    * (the m1/m6 ASCII contract).
    *
    * Every bit decision is INTEGER arithmetic — `sum_b · count_total >
    * sum_total · count_b` instead of comparing two float means — so
    * the signature is bit-identical across engines by construction
    * (no rounding-boundary risk at all, unlike float thresholds).
    *
    * Scale posture: one payload scan exploded to samples, one
    * (doc, bucket) partial aggregate (60 rows/doc), one per-doc
    * rollup, one projection — no shuffle wider than doc×60; the pair
    * join is the multi-probe pigeonhole self-join, candidates bounded
    * by band-key collisions, never all-pairs.
    */
  def mediaPHash(s: SparkSession, dir: String, bits: Int = 60): DataFrame =
    mediaPHashFrom(Tables.documents(s, dir)
        .select(col("doc_id"), col("text"))
        .transform(graft.Tables.spread(_, col("doc_id"))), bits)
      .orderBy(col("doc_id"))

  /** m8 — payloads within `maxHamming` of each other's aHash, via the
    * lossless multi-probe pigeonhole join ([[Dedup.hammingPairsMultiProbe]]).
    * Radius 12 (not d5's 3): a small payload edit shifts EVERY
    * length-scaled bucket boundary, so true near-duplicates land at
    * hamming 8–14 on this corpus (measured: min pairwise distance 8,
    * background median ~26) — the radius captures the near-dup tail
    * while the exact `bit_count` verify keeps the result exact. The
    * DuckDB oracle is the all-pairs form, so the blocking's
    * losslessness is itself gate-checked.
    */
  def mediaPHashPairs(s: SparkSession, dir: String,
      maxHamming: Int = 12): DataFrame =
    Dedup.hammingPairsMultiProbe(
      mediaPHash(s, dir).withColumnRenamed("phash", "sig0"), "sig0", maxHamming)

  /** The two-relation form for spec-planted payloads. Note the
    * empty-string filter before posexplode: Java `split(text, "", -1)`
    * yields a trailing "" element, which would add a phantom sample at
    * pos = n (bucket floor(n·bits/n) = bits, out of range) and inflate
    * every doc's total count by one — matching TextFunctions.tokens'
    * empty-drop convention keeps the bucket domain exactly [0, bits).
    */
  private[graft] def mediaPHashFrom(docs: DataFrame, bits: Int = 60): DataFrame = {
    val samples = docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") > 0)
      .select(col("doc_id"), col("n"),
        posexplode(asciiCodes(col("text"))))
      .select(col("doc_id"),
        floor(col("pos") * bits / col("n")).cast("int").as("bk"),
        col("col").as("c"))
    val bsum = samples.groupBy(col("doc_id"), col("bk"))
      .agg(sum(col("c")).as("sb"), count(lit(1)).as("cb"))
    val tot = bsum.groupBy(col("doc_id"))
      .agg(sum(col("sb")).as("st"), sum(col("cb")).as("ct"))
    bsum.join(tot, "doc_id")
      .groupBy(col("doc_id"))
      .agg(sum(when(col("sb") * col("ct") > col("st") * col("cb"),
        expr("shiftleft(CAST(1 AS BIGINT), bk)")).otherwise(0L)).as("phash"))
  }

  /** m9 — shot-boundary detection: segment each payload's frame stream
    * where consecutive frames' perceptual signatures diverge — the
    * video-segmentation pass that follows frame sampling (m3) in a real
    * pipeline, with payload bytes standing in for decoded frames (the
    * m1/m6 codec contract). Non-overlapping m6-style frames; each frame
    * gets a 16-bit aHash (m7's integer-exact mean-threshold bits, here
    * over 16 CONTIGUOUS 4-sample buckets — contiguity makes each bucket
    * sum one `slice` aggregate, no per-sample bucket shuffle at all);
    * a boundary is a frame whose hamming distance to its predecessor
    * reaches `threshold` (9: the corpus' inter-frame distances span
    * 1-12 with median ~7, so 9 marks the divergent quartile; real
    * footage has near-0 intra-shot distances and the same threshold
    * cleanly separates cuts).
    *
    * Every bit decision is integer arithmetic (`sb·bits > st`), so
    * signatures — and therefore distances and boundary flags — are
    * bit-identical across engines: full DuckDB oracle, no tolerance.
    *
    * Scale posture: signatures are computed per-frame inside ONE
    * codegen'd projection (the per-bucket sums are 16 statically
    * unrolled slice-aggregates — no posexplode to samples, no
    * (doc, bucket) shuffle like m7 needs for its global buckets); the
    * only shuffle is the lag window's partition on doc_id, whose state
    * is one row. First frames have no predecessor and are not emitted
    * (a shot START is the frame after a boundary; frame 0 trivially
    * starts shot 0 on every engine).
    */
  def shotBoundaries(s: SparkSession, dir: String,
      width: Int = 64, bits: Int = 16, threshold: Int = 9): DataFrame =
    shotBoundariesFrom(Tables.documents(s, dir), width, bits, threshold)

  /** The two-relation form for spec-planted frame streams. */
  private[graft] def shotBoundariesFrom(docs: DataFrame,
      width: Int = 64, bits: Int = 16, threshold: Int = 9): DataFrame = {
    val w = Window.partitionBy(col("doc_id")).orderBy(col("frame_idx"))
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") >= width)
      .select(col("doc_id"),
        asciiCodes(col("text")).as("samples"),
        posexplode(sequence(lit(1), col("n") - (width - 1), lit(width))))
      .withColumnRenamed("col", "o")
      .select(col("doc_id"), col("pos").cast("int").as("frame_idx"),
        col("o").cast("int").as("frame_offset"),
        bandedSig(col("samples"), col("o"), width, bits).as("sig"))
      .withColumn("prev", lag(col("sig"), 1).over(w))
      .filter(col("prev").isNotNull)
      .withColumn("dist",
        bit_count(col("sig").bitwiseXOR(col("prev"))).cast("int"))
      .select(col("doc_id"), col("frame_idx"), col("frame_offset"),
        col("dist"), (col("dist") >= threshold).as("is_boundary"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** m10 — VAD-style activity segmentation: group each payload's frame
    * stream into maximal runs of consecutive HIGH-ENERGY frames — the
    * voice-activity-detection pass an audio pipeline runs between
    * frame features (m6) and ASR, with payload bytes standing in for
    * PCM (the m1/m6 codec contract). A frame is active iff its energy
    * Σx² reaches `threshold` — an INTEGER comparison (the squared form
    * of an RMS gate: rms ≥ t ⟺ Σx² ≥ t²·width), so activity, run
    * extents, and totals are all bit-identical across engines and the
    * DuckDB oracle is exact. The default threshold is the corpus'
    * median frame energy (~628k for 64-byte frames of this byte
    * distribution), which yields genuine run structure; a real
    * deployment sets it from a noise floor.
    *
    * The runs are found with the gaps-and-islands idiom: within a doc,
    * active frames get `grp = frame_idx − row_number()`, constant
    * exactly along consecutive runs — one window over active frames,
    * one aggregate per run, one presentation window. No self-join, no
    * per-doc driver logic; the doc_id partition is the only shuffle
    * key, so the operator scales with the frame count like m6.
    *
    * Output: (doc_id, seg_idx, start_frame, end_frame, n_frames,
    * total_ssq) — one row per activity segment.
    */
  def vadSegments(s: SparkSession, dir: String,
      width: Int = 64, stride: Int = 64,
      threshold: Long = 628000L): DataFrame =
    vadSegmentsFrom(Tables.documents(s, dir), width, stride, threshold)

  /** The two-relation form for spec-planted frame streams. */
  private[graft] def vadSegmentsFrom(docs: DataFrame,
      width: Int = 64, stride: Int = 64,
      threshold: Long = 628000L): DataFrame = {
    val wOrd = Window.partitionBy(col("doc_id")).orderBy(col("fi"))
    val wSeg = Window.partitionBy(col("doc_id")).orderBy(col("start_frame"))
    docs
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
      .filter(col("n") >= width)
      .select(col("doc_id"),
        asciiCodes(col("text")).as("samples"),
        posexplode(sequence(lit(1), col("n") - (width - 1), lit(stride))))
      .withColumnRenamed("col", "o")
      .select(col("doc_id"), col("pos").cast("int").as("fi"),
        sliceSumSqL(col("samples"), col("o"), width).as("ssq"))
      .filter(col("ssq") >= threshold)
      .withColumn("grp", col("fi") - row_number().over(wOrd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("fi")).as("start_frame"), max(col("fi")).as("end_frame"),
        count(lit(1)).as("n_frames"), sum(col("ssq")).as("total_ssq"))
      .withColumn("seg_idx", row_number().over(wSeg).cast("int"))
      .select(col("doc_id"), col("seg_idx"), col("start_frame"),
        col("end_frame"), col("n_frames"), col("total_ssq"))
      .orderBy(col("doc_id"), col("seg_idx"))
  }

  /** m11 — ViT-style patchify: treat each payload's leading side²
    * bytes as a row-major side×side image (the m1/m6 codec contract)
    * and cut it into a (side/ps)² grid of ps×ps patches — the
    * tokenization step a vision-transformer training pipeline runs
    * between decode and embedding. Per patch: byte sum / min / max,
    * all INTEGER arithmetic over 2-D row-major indexing
    * (byte(r, c) = payload[r·side + c]), so the full relation is
    * bit-identical across engines and the DuckDB oracle is exact.
    *
    * The real-image deployment swaps the byte plane for decoded pixel
    * planes (the m1 `decodeStub` boundary); grid math, patch indexing,
    * and the per-patch fold are exactly what ships here.
    *
    * Scale posture: one shuffle-free codegen'd scan; the samples array
    * is built once per doc and each patch fold indexes into it (the
    * m6 convention — no re-tokenization per patch).
    */
  def patchify(s: SparkSession, dir: String,
      side: Int = 16, ps: Int = 4): DataFrame =
    patchifyFrom(Tables.documents(s, dir), side, ps)

  /** The two-relation form for spec-planted images. `side` must be a
    * multiple of `ps`. */
  private[graft] def patchifyFrom(docs: DataFrame,
      side: Int = 16, ps: Int = 4): DataFrame = {
    require(side % ps == 0, s"side $side not a multiple of patch $ps")
    val grid = side / ps
    docs
      .filter(length(col("text")) >= side * side)
      .select(col("doc_id"),
        asciiCodes(col("text")).as("samples"))
      .select(col("doc_id"),
        explode(sequence(lit(0), lit(grid * grid - 1))).as("patch_idx"),
        col("samples"))
      .withColumn("bytes", transform(sequence(lit(0), lit(ps * ps - 1)),
        k => element_at(col("samples"),
          ((expr("patch_idx div " + grid) * ps + k.divide(lit(ps)).cast("int"))
            * side
            + (pmod(col("patch_idx"), lit(grid)) * ps + pmod(k, lit(ps)))
            + 1).cast("int"))))
      .select(col("doc_id"), col("patch_idx"),
        aggregate(col("bytes"), lit(0L), (a, x) => a + x).as("byte_sum"),
        array_min(col("bytes")).as("byte_min"),
        array_max(col("bytes")).as("byte_max"))
      .orderBy(col("doc_id"), col("patch_idx"))
  }

  /** The fixed-point DCT-II coefficient matrix for m12, flat u·side+x:
    * M[u][x] = round(α(u)·cos(π(2x+1)u/(2·side))·2¹⁴) with the
    * orthonormal α. Generated ONCE per process and baked as literals
    * into BOTH the Spark expression tree and the DuckDB oracle SQL
    * (the same numbers by construction — the s17 sign-matrix strategy
    * applied to trig), so every downstream operation is pure integer
    * arithmetic and the hash is bit-identical across engines.
    */
  private[graft] def dctMatrix(side: Int, block: Int): Seq[Long] =
    (for (u <- 0 until block; x <- 0 until side) yield {
      val alpha =
        if (u == 0) math.sqrt(1.0 / side) else math.sqrt(2.0 / side)
      math.round(
        alpha * math.cos(math.Pi * (2 * x + 1) * u / (2.0 * side)) * 16384L)
    }).toVector

  /** m12 — DCT perceptual hash: the published pHash algorithm (2-D
    * DCT-II over the pixel plane, keep the low-frequency block,
    * threshold each coefficient against the block median) over the
    * m1/m6 byte-plane codec contract — the frequency-domain upgrade of
    * m7's mean-threshold aHash: aHash sees only local brightness, the
    * DCT hash sees the SHAPE of the image's energy spectrum, which is
    * what survives resizing/re-encoding in real near-dup detection.
    *
    * Exactness: the separable DCT is two integer matrix passes against
    * the fixed-point matrix above (A = M·P, C = A·Mᵀ — every entry a
    * bigint, max ~10¹², no overflow); the median of the 63 non-DC
    * coefficients is an exact order statistic (33rd smallest need not
    * be — the 32nd IS the element with 31 on each side); bit k−1 is
    * set iff coefficient k exceeds it (DC excluded, the classic pHash
    * rule — DC is raw brightness, not structure). 63 bits, always a
    * non-negative BIGINT, full DuckDB hash oracle.
    *
    * Scale posture: one shuffle-free scan; per doc the two passes are
    * side·block·(side+block) multiply-adds over materialized arrays
    * (the m6/m11 convention — samples built once, never
    * re-tokenized).
    */
  def mediaDctHash(s: SparkSession, dir: String): DataFrame =
    dctHashFrom(Tables.documents(s, dir))

  /** A pure-expression LET binding: `transform(array(x), v => body)`
    * evaluates `x` exactly once and binds it to the lambda variable —
    * the only way to share an expensive intermediate between many
    * consumers INSIDE one projection. Chained `withColumn`s do not
    * survive here: Catalyst's projection collapse re-inlines the alias
    * into every consumer, so the m12 pipeline below would re-split and
    * re-DCT the text at each of its ~1 000 inner references
    * (rewrite-time A/B: the sf0.01 query went from hours to seconds
    * when the stages became lambda-bound).
    */
  private def bind(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), body), 1)

  /** The two-relation form for spec-planted corpora. Uses the leading
    * side² bytes as a row-major side×side plane (m11's contract).
    *
    * r15 optimization (guide §1.2 step 2): the whole DCT chain — row
    * pass, column pass, median, threshold bits — runs as ONE codegen'd
    * expression ([[graft.functions.DctPhash64]], same fixed-point
    * matrix, same integer arithmetic) instead of the lambda-bound HOF
    * tree this method used to build: higher-order functions evaluate
    * interpreted per element, and the tree walked ~3 000 multiply-add
    * lambda evaluations per document. Value-identical by construction
    * (MultimodalSpec pins the expression against the original HOF tree
    * on random planes; the DuckDB hash oracle is unchanged). In-suite
    * A/B at sf0.1: m12 5.60 s → see OPTIMIZATION_r15.md.
    */
  private[graft] def dctHashFrom(docs: DataFrame,
      side: Int = 16, block: Int = 8): DataFrame = {
    val phash = org.apache.spark.sql.graft.Shims.column(
      graft.functions.DctPhash64(
        org.apache.spark.sql.graft.Shims.expression(col("text")),
        side, block))
    docs
      .filter(length(col("text")) >= side * side)
      .select(col("doc_id"), phash.as("phash"))
      .orderBy(col("doc_id"))
  }

  /** m13 — near-duplicate pairs on the m12 DCT hash: the frequency-
    * domain upgrade of m8's aHash pairs, same lossless single-error
    * multi-probe pigeonhole join (radius 12 over 63 bits → 7 bands of
    * 9; a ≤12-bit difference leaves some band with ≤1 error, so every
    * qualifying pair collides on an exact-or-probed band key — no
    * recall loss, no all-pairs join).
    */
  def mediaDctHashPairs(s: SparkSession, dir: String,
      maxHamming: Int = 12): DataFrame =
    Dedup.hammingPairsMultiProbe(
      mediaDctHash(s, dir).select(col("doc_id"), col("phash").as("sig0")),
      "sig0", maxHamming, bits = 63)

  /** Pure-SQL binary ops over the payload column (no decode): byte
    * length + content digest, staying entirely in codegen'd built-ins.
    */
  def mediaFingerprint(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
      .select(col("doc_id"),
        octet_length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("payload_md5"))
      .orderBy(col("doc_id"))

  /** m5 — binary-content exact dedup: duplicate groups by payload
    * digest, the FIRST dedup pass any multimodal pipeline runs —
    * byte-identical copies (mirrors, re-uploads, crawl duplicates) are
    * collapsed before a single decode cycle is spent on them. d1's
    * shape on the binary column: one shuffle on a 128-bit digest, per
    * group the lowest doc_id survives. Null payloads form their own
    * group (null digest) rather than disappearing — a pipeline must
    * account for every input row.
    */
  def mediaDedup(s: SparkSession, dir: String): DataFrame =
    mediaTable(s, dir).toDF()
      .groupBy(md5(col("payload")).as("payload_md5"))
      .agg(min(col("doc_id")).as("keep_doc_id"),
        count(lit(1)).as("n_copies"))
      .select(col("keep_doc_id"), col("payload_md5"), col("n_copies"))
      .orderBy(col("keep_doc_id"))

  /** m14 — byte-distribution stats per payload: distinct-byte count,
    * modal byte frequency, and COLLISION PROBABILITY (Σc²/n², the
    * Rényi-2 / Simpson statistic) — the cheap no-decode triage a
    * multimodal ingest runs before spending a decode cycle:
    * near-1/256 collision probability flags encrypted/compressed
    * blobs (undecodable, skip), near-1 flags padding/corruption, and
    * the mode count catches constant-fill payloads. Payload
    * codepoints stand in for bytes (the m6/m7 convention).
    *
    * Why collision probability and not Shannon entropy in the
    * REGISTERED output: r12's t32 failure proved JVM `Math.log` and
    * DuckDB libm drift in the last ulp on identical args, so an
    * ln-bearing column cannot carry a bit-exact hash oracle — and
    * m14's old entropy additionally summed c·ln(c) in UNPINNED
    * aggregation order on both engines, t32's failure mode latent
    * (r12 verdict #3). Σc² is an exact bigint; the statistic is ONE
    * IEEE divide of two exactly-representable integers (exact for
    * n ≤ 2²⁶ bytes, far above any triage payload; at larger blobs
    * the divide is still deterministic, merely ±1-ulp of the true
    * ratio) — bit-identical across engines, merge-order-free. The
    * two stats rank payloads identically in the tails (both are
    * monotone in distribution concentration); Shannon bits survive
    * as [[byteEntropyBits]], epsilon-gated in MultimodalSpec.
    *
    * Scale posture: one explode shuffled on (doc, byte) with map-side
    * combine — the histogram is ≤ alphabet-size rows per doc before
    * the exchange — then a per-doc rollup; no joins, no sort besides
    * the presentation ORDER BY.
    */
  def byteEntropy(s: SparkSession, dir: String): DataFrame =
    byteEntropyFrom(Tables.documents(s, dir))

  /** The relation form for spec-planted payloads.
    *
    * r15 optimization (guide §2.4 — remove shuffles outright): the
    * histogram statistics are computed per document inside ONE
    * codegen'd projection ([[graft.functions.CharStats]]) instead of
    * exploding a row per char and shuffling twice (count per
    * (doc, value), then the per-doc rollup). Value-identical: the
    * per-value counts, their count/max/Σc², and the one IEEE divide
    * are the same integers (MultimodalSpec pins the expression against
    * the explode+groupBy form; the DuckDB hash oracle is unchanged).
    */
  private[graft] def byteEntropyFrom(docs: DataFrame): DataFrame = {
    val stats = org.apache.spark.sql.graft.Shims.column(
      graft.functions.CharStats(
        org.apache.spark.sql.graft.Shims.expression(col("text"))))
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        stats.as("st"))
      .select(col("doc_id"), col("n").as("n_bytes"),
        col("st.n_distinct_bytes").as("n_distinct_bytes"),
        col("st.mode_count").as("mode_count"),
        col("st.sum_c2").as("sum_c2"),
        (col("st.sum_c2").cast("double")
          / (col("n") * col("n")).cast("double")).as("collision_prob"))
      .orderBy(col("doc_id"))
  }

  /** m14's Shannon companion: bits/byte over the same histogram. NOT
    * hash-gated (ln ulp drift across engines plus an order-unpinned
    * double sum — see [[byteEntropy]]); MultimodalSpec gates it at
    * 1e-12 against textbook planted payloads and the corpus bound.
    */
  private[graft] def byteEntropyBits(docs: DataFrame): DataFrame =
    byteHistogram(docs)
      .agg(count(lit(1)).as("n_distinct_bytes"),
        max(col("c")).as("mode_count"),
        sum(col("c").cast("double") * log(col("c").cast("double"))).as("s"))
      .select(col("doc_id"), col("n").as("n_bytes"),
        col("n_distinct_bytes"), col("mode_count"),
        ((log(col("n").cast("double")) - col("s") / col("n").cast("double"))
          / log(lit(2.0))).as("entropy_bits"))
      .orderBy(col("doc_id"))

  /** Shared m14 histogram: per-(doc, byte) counts, grouped by doc. */
  private def byteHistogram(docs: DataFrame) =
    docs
      .filter(length(col("text")) > 0)
      .select(col("doc_id"), length(col("text")).cast("long").as("n"),
        explode(asciiCodes(col("text"))).as("b"))
      .groupBy(col("doc_id"), col("n"), col("b"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"), col("n"))
}

/** The registered queries that call [[Multimodal]]: name, builder and oracle.
  * A separate object, so that building the registry loads these lists
  * and not the operator object, which loads when a query runs.
  */
object MultimodalQueries {
  import Multimodal._

  def queries: Seq[QueryDef] = Seq(
    // Per-channel normalization stats (interleaved RGB stand-in):
    // exact integer moments, one divide + one IEEE sqrt
    QueryDef("m15_channel_stats", channelStats(_, _),
      // m15: exact integer channel moments (strided list comprehension
      // mirrors Spark's strided sequence walk); the derived doubles are
      // one divide + one sqrt — both correctly-rounded IEEE ops.
      Sql("""WITH d AS (SELECT doc_id,
        |    [CAST(ascii(x) AS BIGINT) for x in string_split(text, '')]
        |      AS codes,
        |    CAST(length(text) AS BIGINT) AS n
        |  FROM documents WHERE length(text) >= 3),
        |ch AS (SELECT doc_id, unnest(range(0, 3)) AS channel, codes, n FROM d),
        |v AS (SELECT doc_id, CAST(channel AS INT) AS channel,
        |    [codes[CAST(i AS INT)] for i in range(1 + channel, n + 1, 3)]
        |      AS xs
        |  FROM ch),
        |agg AS (SELECT doc_id, channel,
        |    CAST(len(xs) AS BIGINT) AS n_samples,
        |    CAST(list_sum(xs) AS BIGINT) AS sum_x,
        |    CAST(list_sum([x * x for x in xs]) AS BIGINT) AS sum_x2
        |  FROM v)
        |SELECT doc_id, channel, n_samples, sum_x, sum_x2,
        |  CAST(sum_x AS DOUBLE) / CAST(n_samples AS DOUBLE) AS mean,
        |  sqrt(CAST(n_samples * sum_x2 - sum_x * sum_x AS DOUBLE)
        |    / CAST(n_samples * n_samples AS DOUBLE)) AS stddev
        |FROM agg ORDER BY doc_id, channel""")),

    // Patch-pool embedding bridge: m11's plane pooled to an integer
    // patch-sum vector, probes ranked by exact-arithmetic cosine
    QueryDef("m16_patch_embed_topk", patchEmbedTopK(_, _),
      // m16: integer patch-sum embeddings (exact in any fold order),
      // explicit cosine dot/(sqrt(na)*sqrt(nb)) with the same tree as
      // the Spark side — never list_cosine_similarity, whose internal
      // op order is unspecified.
      Sql("""WITH d AS (SELECT doc_id,
        |    [CAST(ascii(x) AS BIGINT)
        |      for x in string_split(text, '')[1:256]] AS codes
        |  FROM documents WHERE length(text) >= 256),
        |e AS (SELECT doc_id,
        |    list_transform(range(0, 16), kk ->
        |      list_sum(list_transform(range(0, 16), j ->
        |        codes[CAST(((kk // 4) * 4 + (j // 4)) * 16
        |          + (kk % 4) * 4 + (j % 4) + 1 AS INT)]))) AS emb
        |  FROM d),
        |v AS (SELECT doc_id, emb,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> emb[CAST(i AS INT)] * emb[CAST(i AS INT)])) AS BIGINT)
        |      AS n2
        |  FROM e),
        |pairs AS (SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
        |    CAST(list_sum(list_transform(range(1, 17),
        |      i -> q.emb[CAST(i AS INT)] * c.emb[CAST(i AS INT)]))
        |      AS BIGINT) AS dot,
        |    q.n2 AS na, c.n2 AS nb
        |  FROM v q JOIN v c ON q.doc_id % 50 = 0
        |    AND q.doc_id <> c.doc_id),
        |sc AS (SELECT query_id, neighbor_id,
        |    CAST(dot AS DOUBLE)
        |      / (sqrt(CAST(na AS DOUBLE)) * sqrt(CAST(nb AS DOUBLE)))
        |      AS cos
        |  FROM pairs),
        |rk AS (SELECT *, CAST(row_number() OVER (PARTITION BY query_id
        |    ORDER BY cos DESC, neighbor_id) AS INT) AS rank FROM sc)
        |SELECT query_id, rank, neighbor_id, cos FROM rk
        |WHERE rank <= 3 ORDER BY query_id, rank""")),

    // Perceptual (average-hash) payload signature — integer-exact
    // mean-threshold bits, full DuckDB oracle (m6's positional style)
    QueryDef("m7_media_phash", mediaPHash(_, _),
      // m7: every bit decision is integer arithmetic (sb·ct > st·cb), so
      // the DuckDB mirror is bit-identical by construction — the same
      // bucket partition floor(pos·60/n) over [0, n) sample positions.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS pos, text FROM d),
        |sc AS (SELECT doc_id,
        |    CAST(pos * 60 // n AS INT) AS bk,
        |    ascii(substr(text, CAST(pos + 1 AS INT), 1)) AS c
        |  FROM s),
        |b AS (SELECT doc_id, bk, sum(c) AS sb, count(*) AS cb
        |  FROM sc GROUP BY doc_id, bk),
        |t AS (SELECT doc_id, sum(sb) AS st, sum(cb) AS ct
        |  FROM b GROUP BY doc_id)
        |SELECT b.doc_id AS doc_id,
        |  CAST(sum(CASE WHEN sb * ct > st * cb
        |    THEN (1::BIGINT << bk) ELSE 0 END) AS BIGINT) AS phash
        |FROM b JOIN t ON b.doc_id = t.doc_id
        |GROUP BY b.doc_id ORDER BY b.doc_id""")),

    // Near-duplicate payloads by aHash hamming radius, via the lossless
    // multi-probe pigeonhole join (radius 12; all-pairs DuckDB oracle)
    QueryDef("m8_media_phash_pairs", mediaPHashPairs(_, _),
      // m8: exact all-pairs hamming in the oracle; the Spark side's
      // multi-probe pigeonhole blocking is lossless for the radius, so
      // the two must agree exactly.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) > 0),
        |s AS (SELECT doc_id, n, unnest(range(0, n)) AS pos, text FROM d),
        |sc AS (SELECT doc_id,
        |    CAST(pos * 60 // n AS INT) AS bk,
        |    ascii(substr(text, CAST(pos + 1 AS INT), 1)) AS c
        |  FROM s),
        |b AS (SELECT doc_id, bk, sum(c) AS sb, count(*) AS cb
        |  FROM sc GROUP BY doc_id, bk),
        |t AS (SELECT doc_id, sum(sb) AS st, sum(cb) AS ct
        |  FROM b GROUP BY doc_id),
        |p AS (SELECT b.doc_id AS doc_id,
        |    CAST(sum(CASE WHEN sb * ct > st * cb
        |      THEN (1::BIGINT << bk) ELSE 0 END) AS BIGINT) AS phash
        |  FROM b JOIN t ON b.doc_id = t.doc_id GROUP BY b.doc_id)
        |SELECT a.doc_id AS doc_a, y.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, y.phash)) AS INT) AS hamming
        |FROM p a JOIN p y ON a.doc_id < y.doc_id
        |WHERE bit_count(xor(a.phash, y.phash)) <= 12
        |ORDER BY doc_a, doc_b""")),

    // Shot-boundary detection: per-frame integer-exact aHash, lag
    // window, hamming-threshold cuts (full DuckDB oracle)
    QueryDef("m9_shot_boundaries", shotBoundaries(_, _),
      // m9: same integer-exact bit rule as m7, but per NON-OVERLAPPING
      // 64-byte frame with 16 contiguous 4-sample buckets; consecutive
      // frames' signatures xor'd, boundary at hamming >= 9. Frame
      // offsets are 1-based (fi*64 + 1), matching m6's convention.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 64),
        |f AS (SELECT doc_id, unnest(range(0, (n - 64) // 64 + 1)) AS fi,
        |    text FROM d),
        |s AS (SELECT doc_id, fi, unnest(range(0, 64)) AS j, text FROM f),
        |sc AS (SELECT doc_id, fi, j // 4 AS bk,
        |    ascii(substr(text, CAST(fi * 64 + j + 1 AS INT), 1)) AS c
        |  FROM s),
        |b AS (SELECT doc_id, fi, bk, sum(c) AS sb
        |  FROM sc GROUP BY doc_id, fi, bk),
        |t AS (SELECT doc_id, fi, sum(sb) AS st
        |  FROM b GROUP BY doc_id, fi),
        |sig AS (SELECT b.doc_id, b.fi,
        |    CAST(sum(CASE WHEN sb * 16 > st
        |      THEN (1::BIGINT << CAST(bk AS INT)) ELSE 0 END) AS BIGINT) AS sig
        |  FROM b JOIN t ON b.doc_id = t.doc_id AND b.fi = t.fi
        |  GROUP BY b.doc_id, b.fi),
        |lagd AS (SELECT doc_id, fi, sig,
        |    lag(sig) OVER (PARTITION BY doc_id ORDER BY fi) AS prev
        |  FROM sig)
        |SELECT doc_id, CAST(fi AS INT) AS frame_idx,
        |  CAST(fi * 64 + 1 AS INT) AS frame_offset,
        |  CAST(bit_count(xor(sig, prev)) AS INT) AS dist,
        |  bit_count(xor(sig, prev)) >= 9 AS is_boundary
        |FROM lagd WHERE prev IS NOT NULL
        |ORDER BY doc_id, frame_idx""")),

    // VAD-style activity runs over integer frame energy (gaps-and-
    // islands window idiom; bit-exact oracle)
    QueryDef("m10_vad_segments", vadSegments(_, _),
      // m10: integer Σx² energy gate + gaps-and-islands run grouping —
      // every value integer arithmetic, bit-identical across engines.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 64),
        |f AS (SELECT doc_id, unnest(range(0, (n - 64) // 64 + 1)) AS fi,
        |    text FROM d),
        |s AS (SELECT doc_id, fi,
        |    ascii(substr(text, CAST(fi * 64 + j + 1 AS INT), 1)) AS c
        |  FROM f CROSS JOIN (SELECT unnest(range(0, 64)) AS j)),
        |fr AS (SELECT doc_id, fi, sum(c * c) AS ssq
        |  FROM s GROUP BY doc_id, fi),
        |a AS (SELECT doc_id, fi, ssq,
        |    fi - row_number() OVER (PARTITION BY doc_id ORDER BY fi) AS grp
        |  FROM fr WHERE ssq >= 628000),
        |seg AS (SELECT doc_id, grp, min(fi) AS sf, max(fi) AS ef,
        |    count(*) AS nf, sum(ssq) AS tssq
        |  FROM a GROUP BY doc_id, grp)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY sf)
        |    AS INT) AS seg_idx,
        |  CAST(sf AS INT) AS start_frame, CAST(ef AS INT) AS end_frame,
        |  CAST(nf AS BIGINT) AS n_frames, CAST(tssq AS BIGINT) AS total_ssq
        |FROM seg ORDER BY doc_id, seg_idx""")),

    // ViT-style patchify: 16×16 byte plane → 4×4 patch grid, integer
    // per-patch stats via 2-D row-major indexing (bit-exact oracle)
    QueryDef("m11_patchify", patchify(_, _),
      // m11: pure integer 2-D indexing — byte(r, c) = text[r·16 + c],
      // patch (pi) covers rows pi//4·4.. and cols pi%4·4.. — identical
      // row-major math on both engines.
      Sql("""WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE length(text) >= 256),
        |p AS (SELECT doc_id, text, unnest(range(16)) AS pi FROM d),
        |b AS (SELECT doc_id, pi,
        |    ascii(substr(text,
        |      CAST(((pi // 4) * 4 + k // 4) * 16
        |        + ((pi % 4) * 4 + k % 4) + 1 AS INT), 1)) AS c
        |  FROM p CROSS JOIN (SELECT unnest(range(16)) AS k))
        |SELECT doc_id, CAST(pi AS INT) AS patch_idx,
        |  CAST(sum(c) AS BIGINT) AS byte_sum,
        |  CAST(min(c) AS INT) AS byte_min, CAST(max(c) AS INT) AS byte_max
        |FROM b GROUP BY doc_id, pi ORDER BY doc_id, patch_idx""")),

    // DCT perceptual hash (the published pHash rule) in fixed-point
    // integer arithmetic — bit-identical across engines, full oracle
    QueryDef("m12_dct_phash", mediaDctHash(_, _),
      // m12: the SAME fixed-point DCT matrix is baked into this SQL and
      // the Spark expression (generated by one call in one process), so
      // both sides run identical integer arithmetic end to end.
      SqlFn(() => s"""$dctPhashCte
        |SELECT doc_id, phash FROM ph ORDER BY doc_id""".stripMargin)),

    // Near-dup pairs on the DCT hash: lossless multi-probe pigeonhole
    // join (m8's shape over 63 bits), exact all-pairs oracle
    QueryDef("m13_dct_phash_pairs", mediaDctHashPairs(_, _),
      // m13: exact all-pairs hamming in the oracle; the Spark side's
      // 7×9-bit multi-probe blocking is lossless for radius 12, so the
      // two must agree exactly (m8's contract on the DCT hash).
      SqlFn(() => s"""$dctPhashCte
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.phash, b.phash)) AS INT) AS hamming
        |FROM ph a JOIN ph b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.phash, b.phash)) <= 12
        |ORDER BY doc_a, doc_b""".stripMargin)),

    // Byte-distribution triage (entropy bits/byte, mode, distinct):
    // the no-decode corrupt/encrypted-blob gate before any decode
    QueryDef("m14_byte_entropy", byteEntropy(_, _),
      // m14: integer histogram; the statistic is transcendental-free
      // (r12: ln ulp-drifts across engines) — Σc² is exact bigint on
      // both sides and collision_prob is ONE divide of exact integers.
      // Shannon bits live in byteEntropyBits under an epsilon spec.
      Sql("""WITH d AS (SELECT doc_id, CAST(length(text) AS BIGINT) AS n, text
        |  FROM documents WHERE length(text) > 0),
        |b AS (SELECT doc_id, n,
        |    unnest([ascii(c) for c in string_split(text, '')]) AS b
        |  FROM d),
        |h AS (SELECT doc_id, n, b, count(*) AS c FROM b GROUP BY 1, 2, 3)
        |SELECT doc_id, n AS n_bytes,
        |  CAST(count(*) AS BIGINT) AS n_distinct_bytes,
        |  CAST(max(c) AS BIGINT) AS mode_count,
        |  CAST(sum(c * c) AS BIGINT) AS sum_c2,
        |  CAST(sum(c * c) AS DOUBLE) / CAST(n * n AS DOUBLE)
        |    AS collision_prob
        |FROM h GROUP BY doc_id, n
        |ORDER BY doc_id""")),

    QueryDef("m1_media_meta", mediaMeta(_, _),
      // Byte math mirrored via ascii()/substr() — the corpus is ASCII, so
      // UTF-8 payload bytes == character codes.
      Sql("""WITH m AS (SELECT doc_id, text,
        |    CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |    CAST(ascii(substr(text, 1, 1)) AS INT) AS first_byte,
        |    CAST(ascii(substr(text, length(text), 1)) AS INT) AS last_byte,
        |    CAST(list_sum(list_transform(range(1, least(16, length(text)) + 1),
        |      i -> ascii(substr(text, CAST(i AS INT), 1)))) AS BIGINT) AS header_sum
        |  FROM documents)
        |SELECT doc_id, n_bytes, first_byte, last_byte, header_sum,
        |  n_bytes % 640 AS width,
        |  first_byte % 480 AS height,
        |  CAST(3 AS INT) AS channels
        |FROM m ORDER BY doc_id""")),

    QueryDef("m2_media_fingerprint", mediaFingerprint(_, _),
      Sql("""SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS payload_md5
        |FROM documents ORDER BY doc_id""")),

    QueryDef("m3_frame_sample", frameSample(_, _),
      // ASCII corpus → byte offsets == character offsets, so substr
      // mirrors the payload slicing exactly.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 16),
        |f AS (SELECT doc_id, text, unnest(range(1, n - 14, 64)) AS o FROM d)
        |SELECT doc_id,
        |  CAST((o - 1) // 64 AS INT) AS frame_idx,
        |  CAST(o AS INT) AS frame_offset,
        |  md5(substr(text, CAST(o AS INT), 16)) AS frame_md5
        |FROM f ORDER BY doc_id, frame_offset""")),

    QueryDef("m4_resize", mediaResize(_, _),
      // strided char pick == strided byte pick on the ASCII corpus
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n FROM documents),
        |r AS (SELECT doc_id, n,
        |    array_to_string(list_transform(range(1, n + 1, 4),
        |      i -> substr(text, CAST(i AS INT), 1)), '') AS resized
        |  FROM d)
        |SELECT doc_id, CAST(n AS INT) AS n_bytes,
        |  CAST(length(resized) AS INT) AS resized_bytes,
        |  md5(resized) AS resized_md5
        |FROM r ORDER BY doc_id""")),

    // Binary-content exact dedup — the pre-decode multimodal dedup pass
    QueryDef("m5_media_dedup", mediaDedup(_, _),
      Sql("""SELECT min(doc_id) AS keep_doc_id, md5(text) AS payload_md5,
        |  count(*) AS n_copies
        |FROM documents
        |GROUP BY md5(text)
        |ORDER BY keep_doc_id""")),

    // Audio-style per-frame waveform stats (mean/RMS/peak) — one
    // shuffle-free codegen'd generator + HOF-aggregate projection
    QueryDef("m6_audio_energy", audioEnergy(_, _),
      // m6: integer byte sums (ASCII payload == char codes, the m1
      // equivalence) divided by the literal width — the doubles are
      // bit-identical; same frame generator as m3's oracle at width 64.
      Sql("""WITH d AS (SELECT doc_id, text, length(text) AS n
        |  FROM documents WHERE length(text) >= 64),
        |f AS (SELECT doc_id, text, unnest(range(1, n - 62, 64)) AS o FROM d),
        |b AS (SELECT doc_id, o, [ascii(substr(text, CAST(o + j AS INT), 1))
        |    for j in range(0, 64)] AS bytes
        |  FROM f)
        |SELECT doc_id,
        |  CAST((o - 1) // 64 AS INT) AS frame_idx,
        |  CAST(o AS INT) AS frame_offset,
        |  list_sum(bytes) / 64.0 AS mean_amp,
        |  sqrt(list_sum(list_transform(bytes, x -> x * x)) / 64.0) AS rms_amp,
        |  CAST(list_max(bytes) AS INT) AS peak
        |FROM b ORDER BY doc_id, frame_offset""")),
  )

  /** Shared DuckDB CTE computing m12's DCT perceptual hash relation
    * `ph(doc_id, phash)` — the fixed-point matrix literal is generated
    * by the same in-process call that feeds the Spark expression, so
    * both engines run identical integer arithmetic (m12's contract);
    * m13 reuses the CTE for its exact all-pairs mirror.
    */
  private def dctPhashCte: String = {
    val mList = dctMatrix(16, 8).mkString("[", ", ", "]")
    s"""WITH d AS (SELECT doc_id, text FROM documents
      |  WHERE length(text) >= 256),
      |mm AS (SELECT CAST(i.i // 16 AS INT) AS u, CAST(i.i % 16 AS INT) AS r,
      |    ml.mv[CAST(i.i + 1 AS INT)] AS mv
      |  FROM (SELECT $mList AS mv) ml,
      |       (SELECT unnest(range(128)) AS i) i),
      |px AS (SELECT doc_id, CAST(i.i // 16 AS INT) AS r,
      |    CAST(i.i % 16 AS INT) AS c,
      |    ascii(substr(text, CAST(i.i + 1 AS INT), 1)) AS val
      |  FROM d, (SELECT unnest(range(256)) AS i) i),
      |a AS (SELECT doc_id, mm.u AS u, px.c AS c, sum(mm.mv * px.val) AS av
      |  FROM px JOIN mm ON px.r = mm.r GROUP BY doc_id, mm.u, px.c),
      |cc AS (SELECT doc_id, a.u AS u, m2.u AS v, sum(a.av * m2.mv) AS coef
      |  FROM a JOIN mm m2 ON a.c = m2.r GROUP BY doc_id, a.u, m2.u),
      |nd AS (SELECT doc_id, u, v, coef,
      |    row_number() OVER (PARTITION BY doc_id
      |      ORDER BY coef, u, v) AS rk
      |  FROM cc WHERE NOT (u = 0 AND v = 0)),
      |med AS (SELECT doc_id, coef AS med FROM nd WHERE rk = 32),
      |ph AS (SELECT cc.doc_id AS doc_id,
      |  CAST(sum(CASE WHEN cc.coef > med.med
      |    THEN (1::BIGINT << CAST(cc.u * 8 + cc.v - 1 AS INT))
      |    ELSE 0 END) AS BIGINT) AS phash
      |FROM cc JOIN med ON cc.doc_id = med.doc_id
      |WHERE NOT (cc.u = 0 AND cc.v = 0)
      |GROUP BY cc.doc_id)""".stripMargin
  }
}
