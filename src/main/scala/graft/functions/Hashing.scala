package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.GraftBridge

/** Deterministic, engine-portable hashing primitives.
  *
  * All content hashing routes through an md5-prefix base hash rather than
  * Spark's murmur3 `hash()` so that every derived quantity (minhash
  * signatures, LSH bands, simhash bits, rolling fingerprints) is exactly
  * reproducible in any engine with md5 — which is what the DuckDB oracle
  * checks. md5 is codegen'd in Spark (`Md5` expression), so this stays inside
  * whole-stage codegen.
  *
  * MinHash uses the classic affine family h_i(x) = (a_i·h(x) + b_i) mod p
  * over the 32-bit base hash. Constants are pinned: p is prime and > 2^32,
  * a_i < 2^30 so a_i·h < 2^62 — no int64 overflow, hence identical results
  * in every engine doing plain 64-bit arithmetic.
  */
object Hashing {

  /** Large prime > 2^32 for the affine minhash family. */
  val MinhashPrime: Long = 4294967311L

  /** Pinned (a, b) coefficient pairs — sprintf-style fixed table, k = 16.
    * Generated once from a fixed seed; stability across versions matters
    * more than the specific values.
    */
  val MinhashCoefs: Seq[(Long, Long)] = Seq(
    (824393286L, 442845461L), (55079016L, 962623170L),
    (145555424L, 499241607L), (302849152L, 45109467L),
    (366920733L, 149130885L), (91384823L, 740664271L),
    (60479439L, 906946183L), (489954940L, 182236322L),
    (333175849L, 356504369L), (23245866L, 680930536L),
    (185518980L, 539722486L), (128372322L, 213993226L),
    (212654396L, 168111907L), (431517459L, 71524818L),
    (81733506L, 655466966L), (274788251L, 947949468L))

  /** 32-bit base hash of a string column: first 8 hex chars of md5 as a
    * long in [0, 2^32). DuckDB mirror:
    * `CAST(('0x' || substr(md5(x),1,8)) AS BIGINT)`. Computed by the
    * codegen'd [[Md5PrefixLong]] — bit-identical to the
    * `conv(substring(md5(c),1,8),16,10)` composition (Round16OpsSpec),
    * without its per-row `MessageDigest.getInstance` + hex-string
    * round-trip.
    */
  def stableHash32(c: Column): Column =
    GraftBridge.column(Md5PrefixLong(
      GraftBridge.expression(c.cast("binary")), 8))

  /** 60-bit md5-prefix hash (first 15 hex chars): negligible collision mass
    * even at billions of keys, and still inside a SIGNED 64-bit integer in
    * every engine (16 hex chars would overflow DuckDB's BIGINT cast).
    * DuckDB mirror: `CAST(('0x' || substr(md5(x),1,15)) AS BIGINT)`. Use it
    * to shuffle 8-byte keys instead of long strings; because both engines
    * hash identically, even a collision stays engine-consistent.
    */
  def stableHash60(c: Column): Column =
    GraftBridge.column(Md5PrefixLong(
      GraftBridge.expression(c.cast("binary")), 15))

  /** i-th minhash permutation applied to a base-hash column. */
  def minhashPerm(h: Column, i: Int): Column = {
    val (a, b) = MinhashCoefs(i)
    (h * lit(a) + lit(b)) % lit(MinhashPrime)
  }

  /** k-element minhash signature of an array-of-strings column (the shingle
    * set), as a single expression.
    *
    * SLOW PATH — single-row / streaming-value use only. Catalyst's
    * CollapseProject inlines the shared base-hash subexpression into all k
    * permutations (measured ~k× redundant md5 work, PERF.md). For corpus
    * scans use the explode → hash-per-row → groupBy(k min aggregates) plan
    * in [[graft.operators.Dedup.minhashSignatures]] instead.
    */
  def minhashSignature(shingles: Column, k: Int = 16): Column = {
    val base = transform(shingles, s => stableHash32(s))
    array((0 until k).map(i => array_min(transform(base, h => minhashPerm(h, i)))): _*)
  }

  /** LSH band key from per-component signature columns: md5 of the
    * comma-joined values (DuckDB mirror:
    * `md5(array_to_string(sig[a:b], ','))`).
    */
  def bandKeyFromCols(components: Seq[Column]): Column =
    md5(concat_ws(",", components.map(_.cast("string")): _*))

  /** Polynomial rolling-hash fingerprint of an array-of-strings column:
    * fold (acc·31 + h(x)) mod 1e9+7 in element order. acc < 1e9+7 and
    * h < 2^32 keep the fold overflow-free in int64.
    */
  def rollingFingerprint(tokens: Column): Column =
    aggregate(
      transform(tokens, t => stableHash32(t)),
      lit(0L),
      (acc, h) => (acc * lit(31L) + h) % lit(1000000007L))

  /** nbits-wide SimHash of a token array (nbits ≤ 32: bits come from the
    * 32-bit base hash). Bit j of the result is 1 iff the sum over tokens of
    * ±1 (per that token's bit j) is positive; duplicates vote once each and
    * a null array gives 0. Computed per row by the codegen'd
    * [[SimHash32]] kernel — one md5 per token, one pass over the array —
    * and masked to the low nbits bits.
    */
  def simhash(tokens: Column, nbits: Int = 32): Column = {
    require(nbits >= 1 && nbits <= 32, s"simhash: nbits $nbits not in [1, 32]")
    val sketch = GraftBridge.column(SimHash32(GraftBridge.expression(tokens)))
    if (nbits == 32) sketch else sketch.bitwiseAND(lit((1L << nbits) - 1))
  }
}
