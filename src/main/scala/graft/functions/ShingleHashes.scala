package graft.functions

import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** All word n-gram shingle hashes of a document in ONE codegen'd byte
  * scan: `shingle_hashes(text, n)` = the portable hash
  * ([[PortableHash.md5Mod]]) of every n-gram of the single-space split,
  * in document order (a multiset — duplicates kept; wrap in
  * `array_distinct` for the set form).
  *
  * The composed formulation
  * `transform(transform(sequence(...), i -> concat_ws(' ', slice(w,i,n))), md5Mod)`
  * pays three taxes this removes: `transform` lambdas are
  * `CodegenFallback` (the whole projection drops to interpreted rows),
  * every shingle allocates a fresh concatenated string, and the builtin
  * md5→hex→`conv`→mod chain round-trips each digest through a hex
  * string. Here a shingle IS a byte slice of the original document
  * (tokens cannot contain the separator, so the n-gram joined with ' '
  * equals the raw bytes from token i's start to token i+n-1's end), the
  * MD5 runs directly over that slice, and the 60-bit value is read
  * straight out of the digest bytes — bit-identical to
  * `(('0x' || substr(md5(sh), 1, 15))::BIGINT) % P`, the oracle form.
  *
  * Token semantics match `split(text, " ")` / DuckDB `string_split`:
  * empty tokens from consecutive / leading / trailing separators are
  * kept. A document with fewer than n tokens yields an empty array
  * (the downstream `minhash_mins` then yields NULL — the "no
  * signature" contract). Reference semantics: near-dup candidate
  * generation over document streams (shingle → signature → band), cf.
  * `/root/reference/examples/common.py` document shapes.
  */
object ShingleHashes {

  private[functions] val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 15 hex chars of the digest as a 60-bit long, i.e. the top
    * 7.5 bytes — exactly `Long.parseLong(hex.take(15), 16)` without the
    * hex round-trip ([[PortableHash.md5LongLocal]] is the string-side
    * twin). */
  private[functions] def digest60(d: Array[Byte]): Long = {
    var v = 0L
    var i = 0
    while (i < 7) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    (v << 4) | ((d(7) >> 4) & 0xfL)
  }

  /** Token start offsets of the single-space split (empty tokens kept),
    * with the sentinel `starts(nTok) = len + 1` so token t's bytes are
    * `[starts(t), starts(t + 1) - 1)`. */
  private[functions] def tokenStarts(b: Array[Byte]): Array[Int] = {
    val len = b.length
    var nTok = 1
    var i = 0
    while (i < len) { if (b(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok + 1)
    var t = 1
    starts(0) = 0
    i = 0
    while (i < len) { if (b(i) == ' ') { starts(t) = i + 1; t += 1 }; i += 1 }
    starts(nTok) = len + 1
    starts
  }

  /** `shingle_hashes(text, n)`. Called from generated code through the
    * static forwarder scalac emits on the `ShingleHashes` class, which
    * exists because this object has no companion class; a companion
    * declaring a member of the same name (a case class's `eval`) would
    * suppress it and drop every calling stage to interpreted rows. */
  def shingle_hashes(s: UTF8String, n: Int): GenericArrayData = {
    val b = s.getBytes
    val starts = tokenStarts(b)
    val nTok = starts.length - 1
    if (nTok < n) return new GenericArrayData(Array.emptyLongArray)
    val md = md5.get()
    val out = new Array[Long](nTok - n + 1)
    var g = 0
    while (g < out.length) {
      val from = starts(g)
      val until = starts(g + n) - 1 // end of token g+n-1 (strip the sep/sentinel)
      md.reset()
      md.update(b, from, until - from)
      out(g) = digest60(md.digest()) % PortableHash.P
      g += 1
    }
    new GenericArrayData(out)
  }

  /** Non-overlapping n-token segments of a document in ONE codegen'd byte
    * scan: `space_segments(text, n)` = `array<struct<seg, h>>` where
    * segment g is tokens `[g*n, min(g*n + n, nTok))` of the single-space
    * split joined by ' ' (the last segment may be shorter) and `h` is its
    * portable 60-bit hash — the same
    * `('0x' || substr(md5(seg), 1, 15))::BIGINT % P` space every dedup
    * chain signs in. A segment IS a byte slice of the original document
    * (tokens cannot contain the separator), so the scan never builds
    * intermediate token arrays, and joining the emitted segments back
    * with ' ' reproduces the original bytes exactly — the reassembly
    * contract segment-level dedup needs. Token semantics match
    * `string_split(text, ' ')`: empty tokens kept, so empty text yields
    * ONE empty segment, never zero. Reference semantics: segment/line
    * dedup over document streams (RefinedWeb-style).
    *
    * The hash rides along so corpus-wide duplicate COUNTING can shuffle
    * longs instead of segment text (the q103 plan); 60 bits is the
    * engine's portable-oracle hash width — at ~10^10 segments the
    * birthday bound predicts a handful of collisions, so a production
    * deployment that cannot tolerate them swaps `h` to the full 128-bit
    * digest without touching the dataflow. */
  def space_segments(s: UTF8String, n: Int): GenericArrayData = {
    val b = s.getBytes
    val starts = tokenStarts(b)
    val nTok = starts.length - 1
    val nSeg = (nTok + n - 1) / n
    val md = md5.get()
    val out = new Array[Any](nSeg)
    var g = 0
    while (g < nSeg) {
      val from = starts(g * n)
      val until = starts(math.min(g * n + n, nTok)) - 1
      md.reset()
      md.update(b, from, until - from)
      val row = new GenericInternalRow(2)
      row.update(0, UTF8String.fromBytes(b, from, until - from))
      row.update(1, digest60(md.digest()) % PortableHash.P)
      out(g) = row
      g += 1
    }
    new GenericArrayData(out)
  }
}
