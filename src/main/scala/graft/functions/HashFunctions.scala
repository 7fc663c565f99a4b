package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Hash-sketch column functions for dedup at scale, composed entirely from
  * codegen'd built-ins (`xxhash64`, `bit_count`, shifts and masks) — each
  * is computed in one narrow projection over the scan, no shuffle, no UDF.
  */
object HashFunctions {

  /** 64-bit rolling-hash document fingerprint (content-defined): xxhash64
    * of the normalized text — exact-dup detection key.
    */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Hamming distance between two 64-bit fingerprints (for SimHash). */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Deterministic 32-bit-range id hash for pseudo-random ordering and
    * sampling: `pmod(id, 1e9+7) * 2654435761 % 2^32` — a Knuth
    * multiplicative mix kept overflow-free in 63 bits. `pmod` keeps
    * negative ids in the same nonnegative range. The SINGLE definition
    * shared by IVF centroid selection (q37) and the sampling operators
    * (q45): both oracles replay it as `(id % 1000000007) * 2654435761 %
    * 4294967296` in SQL, which is identical for nonnegative ids (SQL `%`
    * is sign-preserving, so oracle parity additionally requires
    * nonnegative ids — true of every fixture and of any sane surrogate
    * key).
    */
  def idHash32(id: Column): Column =
    pmod(id, lit(1000000007L)) * 2654435761L % 4294967296L

  /** JVM mirror of [[idHash32]], bit-identical including pmod semantics
    * for negative ids — for keyed streaming state that must read out
    * exactly like the batch/oracle column form.
    */
  def idHash32Of(id: Long): Long = {
    val m = id % 1000000007L
    val pm = if (m < 0) m + 1000000007L else m
    pm * 2654435761L % 4294967296L
  }

  /** The multi-index Hamming-search chunk scheme, shared by the simhash
    * dedup operator (`NearDedup.simhashPairsFromSigs`) and the
    * Hamming-join planner rule (`plans.ApproxHammingJoinRewrite`) — ONE
    * definition so the rule's exact-recall guarantee cannot drift from
    * the operator it mirrors. A 64-bit signature splits into
    * `c = maxHamming + 2` chunks (first `64 % c` chunks one bit wider);
    * by pigeonhole a pair within Hamming `maxHamming` agrees exactly on
    * some chunk PAIR, so the C(c,2) (combo, v_i, v_j) triples are a
    * lossless candidate index.
    */
  val MaxHammingIndexRadius: Int = 14 // C(16,2)=120 keys/row; past this the fan-out loses

  /** Per-chunk values of 64-bit signature column `sig` for radius
    * `maxHamming`, lowest bits first.
    */
  def hammingChunkVals(sig: Column, maxHamming: Int): Seq[Column] = {
    require(maxHamming >= 0 && maxHamming <= MaxHammingIndexRadius,
      s"hammingChunkVals: maxHamming in [0, $MaxHammingIndexRadius], got $maxHamming")
    val nChunks = maxHamming + 2
    val baseW = 64 / nChunks
    val extra = 64 % nChunks
    var offset = 0
    (0 until nChunks).map { c =>
      val w = baseW + (if (c < extra) 1 else 0)
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      val v = shiftrightunsigned(sig, offset).bitwiseAND(lit(mask))
      offset += w
      v
    }
  }

  /** The C(c,2) chunk-index pairs (i < j) for `nChunks` chunks, in the
    * canonical enumeration order both consumers share.
    */
  def hammingComboPairs(nChunks: Int): Seq[(Int, Int)] =
    for { i <- 0 until nChunks; j <- i + 1 until nChunks } yield (i, j)

  /** JVM mirror of [[hammingChunkVals]] for per-row probes inside a
    * broadcast-map udf (the streaming near-dup gate) — same widths, same
    * offsets, same unsigned shifts, lowest bits first. Kept next to the
    * Column version so the two slicings cannot drift apart unnoticed;
    * ExpressionsSpec pins them bit-equal over random signatures.
    */
  def hammingChunkValsJvm(sig: Long, maxHamming: Int): Array[Long] = {
    require(maxHamming >= 0 && maxHamming <= MaxHammingIndexRadius,
      s"hammingChunkValsJvm: maxHamming in [0, $MaxHammingIndexRadius], got $maxHamming")
    val nChunks = maxHamming + 2
    val baseW = 64 / nChunks
    val extra = 64 % nChunks
    val out = new Array[Long](nChunks)
    var offset = 0
    var c = 0
    while (c < nChunks) {
      val w = baseW + (if (c < extra) 1 else 0)
      val mask = if (w >= 64) -1L else (1L << w) - 1L
      out(c) = (sig >>> offset) & mask
      offset += w
      c += 1
    }
    out
  }
}
