package graft.plans

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Per-row kernels shared by the interpreted (`nullSafeEval`) and
  * generated (`doGenCode`) paths of the custom expressions in this package.
  *
  * A top-level Scala object with no companion class compiles to a class
  * with static forwarder methods, so whole-stage-codegen'd Java calls
  * `graft.plans.ExprKernels.minhashSig(...)` directly. The expressions
  * generate exactly one such call each: the win over `CodegenFallback` is
  * not the loop itself (already a tight JVM loop) but that the surrounding
  * stage stays fused — a single CodegenFallback expression de-optimizes
  * every operator in its stage back to the interpreted Volcano path.
  */
object ExprKernels {

  /** splitmix64 — deterministic per-index constants for hash families. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** One-permutation minhash with rotation densification (see
    * [[MinHashSig]]). Returns null for an empty input array.
    */
  def minhashSig(input: ArrayData, numHashes: Int): ArrayData = {
    val n = input.numElements()
    if (n == 0) return null
    val out = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = mix64(input.getLong(i)) // decorrelate bucket vs value bits
      val b = ((h >>> 1) % numHashes).toInt
      if (h < out(b)) out(b) = h
      i += 1
    }
    // rotation densification against the pre-densification snapshot
    // (Long.MaxValue marks an empty bucket)
    val orig = out.clone()
    var j = 0
    while (j < numHashes) {
      if (orig(j) == Long.MaxValue) {
        var d = 1
        while (d < numHashes && orig((j + d) % numHashes) == Long.MaxValue) d += 1
        out(j) = mix64(orig((j + d) % numHashes) + d)
      }
      j += 1
    }
    new GenericArrayData(out)
  }

  private def hashSetToArray(out: java.util.HashSet[java.lang.Long]): ArrayData = {
    val arr = new Array[Long](out.size)
    val it = out.iterator()
    var k = 0
    while (it.hasNext) { arr(k) = it.next(); k += 1 }
    new GenericArrayData(arr)
  }

  /** Distinct hashes of lowercase word w-shingles, one pass (see
    * [[ShingleHashes]]).
    */
  def shingleHashes(input: UTF8String, w: Int): ArrayData = {
    val s = input.toString
    // 1. token hashes: runs of letters, lowercased, hashed incrementally
    val tokenHashes = new scala.collection.mutable.ArrayBuffer[Long](64)
    var h = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        val lc = Character.toLowerCase(c)
        h = if (inTok) h * 0x100000001B3L ^ lc else 0xCBF29CE484222325L ^ lc
        inTok = true
      } else if (inTok) {
        tokenHashes += mix64(h)
        inTok = false
      }
      i += 1
    }
    if (inTok) tokenHashes += mix64(h)

    val n = tokenHashes.length
    // 2. shingle hashes: mix of w consecutive token hashes, deduplicated
    val out = new java.util.HashSet[java.lang.Long]()
    if (n == 0) {
      // keep parity with the HOF formulation: empty text still yields one
      // (empty-join) shingle so the row can participate in exact-dup checks
      out.add(mix64(0L))
    } else if (n < w) {
      var acc = 0L
      var j = 0
      while (j < n) { acc = acc * 0x9E3779B97F4A7C15L ^ tokenHashes(j); j += 1 }
      out.add(mix64(acc))
    } else {
      var start = 0
      while (start <= n - w) {
        var acc = 0L
        var j = start
        while (j < start + w) { acc = acc * 0x9E3779B97F4A7C15L ^ tokenHashes(j); j += 1 }
        out.add(mix64(acc))
        start += 1
      }
    }
    hashSetToArray(out)
  }

  /** STRICT word n-gram hashes: like [[shingleHashes]] but a document
    * with fewer than `n` tokens yields an EMPTY array instead of the
    * all-tokens fallback shingle — the exact-overlap decontamination
    * contract (a short document cannot carry a full n-gram and is never
    * contaminated), where the LSH fallback would invent matches between
    * short documents.
    */
  def wordNgramHashes(input: UTF8String, n: Int): ArrayData = {
    val s = input.toString
    val tokenHashes = new scala.collection.mutable.ArrayBuffer[Long](64)
    var h = 0L
    var inTok = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (Character.isLetter(c)) {
        val lc = Character.toLowerCase(c)
        h = if (inTok) h * 0x100000001B3L ^ lc else 0xCBF29CE484222325L ^ lc
        inTok = true
      } else if (inTok) {
        tokenHashes += mix64(h)
        inTok = false
      }
      i += 1
    }
    if (inTok) tokenHashes += mix64(h)
    val m = tokenHashes.length
    val out = new java.util.HashSet[java.lang.Long]()
    var start = 0
    while (start <= m - n) {
      var acc = 0L
      var j = start
      while (j < start + n) { acc = acc * 0x9E3779B97F4A7C15L ^ tokenHashes(j); j += 1 }
      out.add(mix64(acc))
      start += 1
    }
    hashSetToArray(out)
  }

  /** NON-distinct hashes of lowercase letter-run tokens, one pass — the
    * feature extractor for simhash (every occurrence votes, so no dedup;
    * see [[TokenHashes]]). Same incremental FNV+mix64 hashing as
    * [[shingleHashes]]' token stage.
    */
  def tokenHashes(input: UTF8String): ArrayData = {
    val str = input.toString
    val out = new scala.collection.mutable.ArrayBuffer[Long](64)
    var h = 0L
    var inTok = false
    var i = 0
    while (i < str.length) {
      val c = str.charAt(i)
      if (Character.isLetter(c)) {
        val lc = Character.toLowerCase(c)
        h = if (inTok) h * 0x100000001B3L ^ lc else 0xCBF29CE484222325L ^ lc
        inTok = true
      } else if (inTok) {
        out += mix64(h)
        inTok = false
      }
      i += 1
    }
    if (inTok) out += mix64(h)
    new GenericArrayData(out.toArray)
  }

  /** Distinct hashes of normalized character n-grams, one pass (see
    * [[CharNgramHashes]]).
    */
  def charNgramHashes(input: UTF8String, n: Int): ArrayData = {
    val raw = input.toString
    // normalize: lowercase letters kept, everything else → single space
    val sb = new java.lang.StringBuilder(raw.length)
    var lastSpace = true
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (Character.isLetter(c)) {
        sb.append(Character.toLowerCase(c)); lastSpace = false
      } else if (!lastSpace) { sb.append(' '); lastSpace = true }
      i += 1
    }
    while (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    val s = sb
    val out = new java.util.HashSet[java.lang.Long]()
    def windowHash(from: Int, until: Int): Long = {
      var h = 0xCBF29CE484222325L
      var j = from
      while (j < until) { h = h * 0x100000001B3L ^ s.charAt(j); j += 1 }
      mix64(h)
    }
    if (s.length < n) out.add(windowHash(0, s.length))
    else {
      var start = 0
      while (start <= s.length - n) {
        out.add(windowHash(start, start + n))
        start += 1
      }
    }
    hashSetToArray(out)
  }

  /** POSITIONAL k-gram hashes over the RAW text (see [[KgramHashes]]):
    * element i is a 64-bit hash of the k Unicode CODE POINTS [i, i+k)
    * of the input, so equal substrings anywhere in the corpus collide
    * on purpose and the index maps straight back to a character offset
    * for span surgery. Offsets count code points — the same unit
    * Spark's `substring`/`length` count — so downstream span removal
    * ([[graft.text.SubstrDedup.strip]]) applies them exactly; indexing
    * by UTF-16 code units here would silently shift every span after a
    * supplementary character (emoji etc.). Unlike [[charNgramHashes]]
    * there is no normalization and no dedup — offsets are the whole
    * point. A polynomial rolling hash (mod 2⁶⁴, FNV prime) updates in
    * O(1) per position — O(n) per document, not O(n·k) — with splitmix
    * finalization for dispersion; the rolling state itself is never
    * emitted. Texts shorter than k code points yield an empty array (no
    * window fits — nothing to match).
    */
  def kgramHashes(input: UTF8String, k: Int): ArrayData = {
    val s = input.toString
    // code-point array: one pass; for BMP-only text each element equals
    // the UTF-16 char, so hashes (and every existing oracle) are
    // identical to a char-indexed roll
    val cps = new Array[Int](s.codePointCount(0, s.length))
    var ci = 0
    var si = 0
    while (si < s.length) {
      val cp = s.codePointAt(si)
      cps(ci) = cp; ci += 1; si += Character.charCount(cp)
    }
    val n = cps.length - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    val P = 0x100000001B3L
    var pk = 1L
    var i = 0
    while (i < k - 1) { pk *= P; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * P + cps(i); i += 1 }
    out(0) = mix64(h)
    i = 1
    while (i < n) {
      h = (h - cps(i - 1) * pk) * P + cps(i + k - 1)
      out(i) = mix64(h)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** POSITIONAL k-gram hashes over an int SEQUENCE (token ids): the
    * [[kgramHashes]] analog at the granularity the ExactSubstr paper
    * actually dedups — token windows, not char windows. Same rolling
    * polynomial, same splitmix finalization; element i hashes ids
    * [i, i+k). Sequences shorter than k yield an empty array.
    */
  def kgramHashesInts(ids: ArrayData, k: Int): ArrayData = {
    val len = ids.numElements()
    val n = len - k + 1
    if (n <= 0) return new GenericArrayData(Array.empty[Long])
    val out = new Array[Long](n)
    val P = 0x100000001B3L
    var pk = 1L
    var i = 0
    while (i < k - 1) { pk *= P; i += 1 }
    var h = 0L
    i = 0
    while (i < k) { h = h * P + ids.getInt(i); i += 1 }
    out(0) = mix64(h)
    i = 1
    while (i < n) {
      h = (h - ids.getInt(i - 1) * pk) * P + ids.getInt(i + k - 1)
      out(i) = mix64(h)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Coalesce ASCENDING k-window start positions into maximal disjoint
    * spans (see [[CoalesceSpans]]): windows [p, p+k) whose starts are
    * <= k apart overlap or touch and merge; a gap > k closes the span.
    * Spans shorter than `minSpan` are dropped (the ExactSubstr length
    * threshold; 0 keeps all). Output elements are (start, end) structs,
    * end exclusive. One pass, no allocation beyond the output.
    */
  def coalesceSpans(positions: ArrayData, k: Int, minSpan: Int): ArrayData = {
    val n = positions.numElements()
    if (n == 0) return new GenericArrayData(Array.empty[Any])
    val out = new java.util.ArrayList[org.apache.spark.sql.catalyst.InternalRow](4)
    var start = positions.getInt(0)
    var last = start
    def close(): Unit = {
      val end = last + k
      if (end - start >= minSpan)
        out.add(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
          Array[Any](start, end)))
    }
    var i = 1
    while (i < n) {
      val p = positions.getInt(i)
      if (p - last > k) { close(); start = p }
      last = p
      i += 1
    }
    close()
    new GenericArrayData(out.toArray)
  }

  /** Blocklist hit count, automaton path (see [[BlocklistHits]]):
    * occurrences of any single-word entry (one tokenization pass over
    * ASCII-lowercased text, word chars = `[a-z0-9_]` — RE2/Java default
    * `\w` — set lookup per token) plus boundary-checked non-overlapping
    * occurrences of each PHRASE entry (entries containing whitespace),
    * matched by ONE [[AhoCorasick]] pass — O(n + matches) regardless of
    * blocklist size, where the per-phrase `indexOf` scan is O(n · P) (a
    * real list like the public LDNOOBW English set is ~400 entries).
    * Non-overlap per phrase: a match is accepted iff its start is at or
    * past the previous ACCEPTED match's end for that same phrase —
    * boundary-rejected occurrences block nothing — exactly the greedy
    * left-to-right rule of [[blocklistHitsScan]], which stays the
    * better plan for SHORT lists (JIT-intrinsified `String.indexOf`
    * beats the per-char automaton walk up to ~64 phrases — measured:
    * flat ~26 ms/5k docs for the automaton at
    * any P vs 4 ms at P=2 and 96 ms at P=314 for the scan). The
    * expression picks the path per plan by list size. Inputs arrive
    * pre-lowercased from the expression's reference objects.
    */
  def blocklistHits(input: UTF8String,
                    single: java.util.HashSet[String],
                    ac: AhoCorasick): Long = {
    val raw = input.toString
    val n = raw.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = raw.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    val s = sb.toString
    var hits = 0L
    if (!single.isEmpty) {
      var start = -1
      i = 0
      while (i <= n) {
        val w = i < n && isWordChar(s.charAt(i))
        if (w && start < 0) start = i
        else if (!w && start >= 0) {
          if (single.contains(s.substring(start, i))) hits += 1
          start = -1
        }
        i += 1
      }
    }
    if (ac != null && ac.patterns.length > 0) {
      val lastEnd = new Array[Int](ac.patterns.length)
      val counter = new BlocklistSink(s, n, lastEnd, ac.lengths)
      ac.visit(s, counter)
      hits += counter.hits
    }
    hits
  }

  private def isWordChar(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '_'

  /** Match sink applying the boundary + per-phrase non-overlap rule. */
  private final class BlocklistSink(s: String, n: Int, lastEnd: Array[Int],
                                    lengths: Array[Int])
      extends AhoCorasick.MatchSink {
    var hits = 0L
    override def onMatch(p: Int, end: Int): Unit = {
      val start = end - lengths(p)
      if (start >= lastEnd(p)) {
        val okL = start == 0 || !isWordChar(s.charAt(start - 1))
        val okR = end >= n || !isWordChar(s.charAt(end))
        if (okL && okR) { hits += 1; lastEnd(p) = end }
      }
    }
  }

  /** Blocklist hit count, short-list path: per-phrase `indexOf` scan —
    * O(n · P), but `String.indexOf` is a JIT intrinsic, so for small P
    * it beats the automaton's per-char map walk (see [[blocklistHits]]
    * for the measured crossover). Identical semantics by construction;
    * the AhoCorasickSpec cross-checks the two on randomized corpora.
    */
  def blocklistHitsScan(input: UTF8String,
                        single: java.util.HashSet[String],
                        phrases: Array[String]): Long = {
    val raw = input.toString
    val n = raw.length
    val sb = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = raw.charAt(i)
      sb.append(if (c >= 'A' && c <= 'Z') (c + 32).toChar else c)
      i += 1
    }
    val s = sb.toString
    var hits = 0L
    if (!single.isEmpty) {
      var start = -1
      i = 0
      while (i <= n) {
        val w = i < n && isWordChar(s.charAt(i))
        if (w && start < 0) start = i
        else if (!w && start >= 0) {
          if (single.contains(s.substring(start, i))) hits += 1
          start = -1
        }
        i += 1
      }
    }
    var p = 0
    while (p < phrases.length) {
      val ph = phrases(p)
      var from = 0
      var idx = s.indexOf(ph, from)
      while (idx >= 0) {
        val okL = idx == 0 || !isWordChar(s.charAt(idx - 1))
        val okR = idx + ph.length >= n || !isWordChar(s.charAt(idx + ph.length))
        if (okL && okR) { hits += 1; from = idx + ph.length }
        else from = idx + 1
        idx = if (from < n) s.indexOf(ph, from) else -1
      }
      p += 1
    }
    hits
  }

  /** One-pass 64-bit simhash (see [[SimHash64]]). */
  def simhash64(input: ArrayData): Long = {
    val n = input.numElements()
    val counters = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = input.getLong(i)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counters(b) += 1 else counters(b) -= 1
        b += 1
      }
      i += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counters(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  /** Σ aᵢ·bᵢ in double (see [[VecDot]]). */
  def vecDot(a: ArrayData, b: ArrayData,
             aFloat: Boolean, bFloat: Boolean): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y
      i += 1
    }
    dot
  }

  /** Sign-bit binary quantization of a float/double vector: bit i of
    * block i/64 is set iff `vec[i] > 0` — the 1-bit embedding code
    * (32× smaller than float32) modern binary-retrieval stacks prefilter
    * with; Hamming distance on the blocks approximates angle, and an
    * exact rerank of the shortlist restores exact top-k. Zeros quantize
    * to 0 bits (sign(0) has no information either way). d ≤ 64 packs
    * into a single block.
    */
  def signBits(vec: ArrayData, isFloat: Boolean): ArrayData = {
    val n = vec.numElements()
    val blocks = new Array[Long](math.max(1, (n + 63) / 64))
    var i = 0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      if (x > 0.0) blocks(i >> 6) |= 1L << (i & 63)
      i += 1
    }
    new GenericArrayData(blocks)
  }

  /** Set-Jaccard of two `array<bigint>` hash sets in one pass (see
    * [[HashJaccard]]): |a ∩ b| / |a ∪ b| with an open-addressed probe
    * table — replaces the `size(array_intersect)/size(array_union)`
    * formulation, which builds two hash sets AND materializes two result
    * arrays per pair. Inputs are treated as SETS (duplicates collapse,
    * matching the array_intersect/array_union semantics on
    * distinct-by-construction shingle arrays). Both empty → null.
    */
  def hashJaccard(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return null
    if (na == 0 || nb == 0) return java.lang.Double.valueOf(0.0)
    // open addressing, power-of-two capacity ≥ 2·(na+nb); 0 marks empty,
    // the value 0L itself is tracked by flags
    var cap = 16
    while (cap < (na + nb) * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val state = new Array[Byte](cap) // 0 empty, 1 = in a, 2 = also seen in b
    var sawZeroA = false; var sawZeroB = false
    var distinctA = 0
    var i = 0
    while (i < na) {
      val v = a.getLong(i)
      if (v == 0L) { if (!sawZeroA) { sawZeroA = true; distinctA += 1 } }
      else {
        var idx = (mix64(v) & 0x7fffffffffffffffL).toInt & mask
        while (state(idx) != 0 && table(idx) != v) idx = (idx + 1) & mask
        if (state(idx) == 0) { table(idx) = v; state(idx) = 1; distinctA += 1 }
      }
      i += 1
    }
    var inter = 0
    var onlyB = 0
    i = 0
    while (i < nb) {
      val v = b.getLong(i)
      if (v == 0L) {
        if (!sawZeroB) {
          sawZeroB = true
          if (sawZeroA) inter += 1 else onlyB += 1
        }
      } else {
        var idx = (mix64(v) & 0x7fffffffffffffffL).toInt & mask
        while (state(idx) != 0 && table(idx) != v) idx = (idx + 1) & mask
        state(idx) match {
          case 0 => table(idx) = v; state(idx) = 3; onlyB += 1 // b-only
          case 1 => state(idx) = 2; inter += 1                 // a ∩ b
          case _ => ()                                         // already counted
        }
      }
      i += 1
    }
    val union = distinctA + onlyB
    java.lang.Double.valueOf(inter.toDouble / union.toDouble)
  }

  /** One-pass set CONTAINMENT of two `array<bigint>` hash sets:
    * `|A ∩ B| / min(|A|, |B|)` — how much of the SMALLER set the pair
    * shares. The doc-inside-doc signal Jaccard structurally misses: a
    * page fully quoted inside a 10× larger page has containment 1.0 but
    * Jaccard ≈ 0.1, below every near-dup threshold. Same open-addressing
    * single pass as [[hashJaccard]]; inputs treated as sets. Both
    * empty → null (no features ⇒ no similarity claim).
    */
  def hashContainment(a: ArrayData, b: ArrayData): java.lang.Double = {
    val na = a.numElements()
    val nb = b.numElements()
    if (na == 0 && nb == 0) return null
    if (na == 0 || nb == 0) return java.lang.Double.valueOf(0.0)
    var cap = 16
    while (cap < (na + nb) * 2) cap <<= 1
    val mask = cap - 1
    val table = new Array[Long](cap)
    val state = new Array[Byte](cap) // 0 empty, 1 = in a, 2 = also in b
    var sawZeroA = false; var sawZeroB = false
    var distinctA = 0
    var i = 0
    while (i < na) {
      val v = a.getLong(i)
      if (v == 0L) { if (!sawZeroA) { sawZeroA = true; distinctA += 1 } }
      else {
        var idx = (mix64(v) & 0x7fffffffffffffffL).toInt & mask
        while (state(idx) != 0 && table(idx) != v) idx = (idx + 1) & mask
        if (state(idx) == 0) { table(idx) = v; state(idx) = 1; distinctA += 1 }
      }
      i += 1
    }
    var inter = 0
    var distinctB = 0
    i = 0
    while (i < nb) {
      val v = b.getLong(i)
      if (v == 0L) {
        if (!sawZeroB) {
          sawZeroB = true; distinctB += 1
          if (sawZeroA) inter += 1
        }
      } else {
        var idx = (mix64(v) & 0x7fffffffffffffffL).toInt & mask
        while (state(idx) != 0 && table(idx) != v) idx = (idx + 1) & mask
        state(idx) match {
          case 0 => table(idx) = v; state(idx) = 3; distinctB += 1 // b-only
          case 1 => state(idx) = 2; inter += 1; distinctB += 1     // a ∩ b
          case _ => ()                                             // dup in b
        }
      }
      i += 1
    }
    val denom = math.min(distinctA, distinctB)
    java.lang.Double.valueOf(inter.toDouble / denom.toDouble)
  }

  /** All `tables` LSH bucket ids of a vector in ONE pass (see
    * [[LshBuckets]]): the vector is decoded into a local double[] once,
    * then `tables × nbits` plane projections run over primitive arrays —
    * replacing tables × nbits separate [[vecDot]] expression evaluations,
    * each of which re-reads the vector element-by-element through
    * ArrayData. `planes` is laid out [table][bit][dim] flattened; per-term
    * accumulation order matches [[vecDot]] (ascending index), so bucket
    * ids are bit-identical to the unfused formulation.
    */
  def lshBuckets(vec: ArrayData, vecFloat: Boolean, planes: Array[Double],
                 tables: Int, nbits: Int, dim: Int): ArrayData = {
    val n = math.min(vec.numElements(), dim)
    val v = new Array[Double](n)
    var i = 0
    while (i < n) {
      v(i) = if (vecFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      i += 1
    }
    val out = new Array[Long](tables)
    var t = 0
    while (t < tables) {
      var bucket = 0L
      var b = 0
      while (b < nbits) {
        val off = (t * nbits + b) * dim
        var dot = 0.0
        var j = 0
        while (j < n) {
          dot += v(j) * planes(off + j)
          j += 1
        }
        if (dot > 0) bucket |= (1L << b)
        b += 1
      }
      out(t) = bucket
      t += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
  }

  /** Cosine similarity in double; null for a zero vector (see [[VecDot]]). */
  def vecCosine(a: ArrayData, b: ArrayData,
                aFloat: Boolean, bFloat: Boolean): java.lang.Double = {
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      dot += x * y; na += x * x; nb += y * y
      i += 1
    }
    val denom = math.sqrt(na) * math.sqrt(nb)
    if (denom == 0.0) null else java.lang.Double.valueOf(dot / denom)
  }

  /** One-pass surface statistics of a text (see
    * [[TextSurfaceStats]]). Semantics replicate the Spark built-ins the
    * original formulations used, so DuckDB oracle parity is preserved:
    * code-point counting (`length`), `Character.isLetter` over code
    * points (`\p{L}`), ASCII-only `\p{Punct}` and `[0-9]`, Java `\s`,
    * and `UTF8String.toLowerCase` (exactly Spark's `lower`) before
    * letter-run tokenization.
    */
  def textSurfaceStats(input: UTF8String,
                       stopwordSets: Array[java.util.HashSet[String]],
                       langCodes: Array[String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val original = input.toString
    var nChars = 0L
    var nAlpha = 0L; var nPunct = 0L
    var cjk = 0L; var kana = 0L; var hangul = 0L; var cyr = 0L; var arab = 0L
    var nWs = 0L; var nBpe = 0L
    var inWsTok = false
    var inLetterRun = false; var inDigitRun = false
    var i = 0
    while (i < original.length) {
      val cp = original.codePointAt(i)
      nChars += 1
      val isLetter = Character.isLetter(cp)
      val isAsciiDigit = cp >= '0' && cp <= '9'
      if (isLetter) nAlpha += 1
      if (cp >= '!' && cp <= '~' && !Character.isLetterOrDigit(cp)) nPunct += 1
      if (cp >= 0x4E00 && cp <= 0x9FFF) cjk += 1
      else if (cp >= 0x3040 && cp <= 0x30FF) kana += 1
      else if (cp >= 0xAC00 && cp <= 0xD7AF) hangul += 1
      else if (cp >= 0x0400 && cp <= 0x04FF) cyr += 1
      else if (cp >= 0x0600 && cp <= 0x06FF) arab += 1
      // Java \s: ASCII whitespace classes only
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (!isWs && !inWsTok) { nWs += 1; inWsTok = true }
      else if (isWs) inWsTok = false
      // BPE-ish pre-tokenizer: letter runs | ASCII-digit runs | other marks
      if (isLetter) {
        if (!inLetterRun) { nBpe += 1; inLetterRun = true }
        inDigitRun = false
      } else if (isAsciiDigit) {
        if (!inDigitRun) { nBpe += 1; inDigitRun = true }
        inLetterRun = false
      } else {
        inLetterRun = false; inDigitRun = false
        if (!isWs) nBpe += 1
      }
      i += Character.charCount(cp)
    }

    // tokenization parity with split(lower(text), "[^\p{L}]+"): lowercase
    // via the exact code path Spark 4's lower() takes for the default
    // UTF8_BINARY collation (ICU case mappings — NOT UTF8String.toLowerCase,
    // which differs on Greek final-sigma context, e.g. "ß-Σ"), THEN split
    // on letter runs
    val lowered = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .execBinaryICU(input).toString
    var nToks = 0L; var sumTokLen = 0L
    val distinct = new java.util.HashSet[String]()
    val langHits = new Array[Int](stopwordSets.length)
    var start = -1
    var j = 0
    def closeTok(until: Int): Unit = if (start >= 0) {
      nToks += 1
      sumTokLen += lowered.codePointCount(start, until)
      val tok = lowered.substring(start, until)
      if (distinct.add(tok)) {
        var l = 0
        while (l < stopwordSets.length) {
          if (stopwordSets(l).contains(tok)) langHits(l) += 1
          l += 1
        }
      }
      start = -1
    }
    while (j < lowered.length) {
      val cp = lowered.codePointAt(j)
      if (Character.isLetter(cp)) { if (start < 0) start = j }
      else closeTok(j)
      j += Character.charCount(cp)
    }
    closeTok(lowered.length)

    // language label, replicating the Column formulation exactly (the
    // when-chain there defeats subexpression elimination, so the label is
    // fused here; TextSurfaceStatsSpec pins equality against the formula)
    def ratio(c: Long): Double = if (nChars > 0) c.toDouble / nChars else 0.0
    val lang: String =
      if (ratio(kana) > 0.05) "ja"
      else if (ratio(cjk) > 0.1) "zh"
      else if (ratio(hangul) > 0.1) "ko"
      else if (ratio(cyr) > 0.2) "ru"
      else if (ratio(arab) > 0.2) "ar"
      else {
        var best = "und"; var bs = 0
        var l = 0
        while (l < langHits.length) {
          if (langHits(l) > bs) { best = langCodes(l); bs = langHits(l) }
          l += 1
        }
        best
      }

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nChars, nAlpha, nPunct, cjk, kana, hangul, cyr, arab,
      nToks, sumTokLen, distinct.size.toLong, nWs, nBpe,
      new GenericArrayData(langHits), UTF8String.fromString(lang)))
  }

  /** One-pass repetition statistics of a text (see [[RepetitionStats]]) —
    * the Gopher-style repetition signals (Rae et al. 2021, "Scaling
    * Language Models", table A1) used to drop boilerplate/spammy documents
    * from pretraining corpora:
    *
    *  - `n_lines`: nonempty lines (split on `\n`, trimmed of space/tab/CR)
    *  - `dup_line_frac`: fraction of lines that are repeats of an earlier
    *    identical line (count basis)
    *  - `dup_line_char_frac`: fraction of line characters in lines whose
    *    content occurs ≥ 2 times
    *  - `top2gram_char_frac` / `top3gram_char_frac`: token-character mass
    *    of the most frequent REPEATED word 2-/3-gram over total token
    *    characters (occurrence count × gram length; overlaps counted,
    *    capped at 1). Grams occurring once contribute 0 — a singleton is
    *    not repetition, and counting it (as a literal reading of Gopher's
    *    "most common n-gram" would) makes every short document fail the
    *    threshold.
    *  - `dup5gram_char_frac`: token-character mass of all 5-grams occurring
    *    ≥ 2 times over total token characters (capped at 1)
    *
    * Tokenization matches [[textSurfaceStats]]: letter runs of the
    * ICU-lowered text (= Spark 4 `lower()`), lengths in code points — so a
    * DuckDB `string_split_regex(lower(t),'[^\p{L}]+')` oracle reproduces
    * every field exactly. All fractions are a single integer÷integer
    * division, so they are bit-deterministic.
    */
  def repetitionStats(input: UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    val original = input.toString

    // --- line statistics: one scan, counts per distinct trimmed line ---
    val lineCounts = new java.util.HashMap[String, Array[Long]]() // [count, cpLen]
    var nLines = 0L
    var totLineChars = 0L
    var lineStart = 0
    def addLine(endExcl: Int): Unit = {
      var a = lineStart
      var b = endExcl
      while (a < b && { val c = original.charAt(a); c == ' ' || c == '\t' || c == '\r' }) a += 1
      while (b > a && { val c = original.charAt(b - 1); c == ' ' || c == '\t' || c == '\r' }) b -= 1
      if (b > a) {
        val line = original.substring(a, b)
        val cpLen = original.codePointCount(a, b).toLong
        nLines += 1
        totLineChars += cpLen
        val e = lineCounts.get(line)
        if (e == null) lineCounts.put(line, Array(1L, cpLen)) else e(0) += 1
      }
    }
    var i = 0
    while (i < original.length) {
      if (original.charAt(i) == '\n') { addLine(i); lineStart = i + 1 }
      i += 1
    }
    addLine(original.length)
    var dupLineChars = 0L
    val lit0 = lineCounts.values.iterator()
    while (lit0.hasNext) {
      val e = lit0.next()
      if (e(0) >= 2) dupLineChars += e(0) * e(1)
    }
    val dupLineFrac =
      if (nLines > 0) (nLines - lineCounts.size).toDouble / nLines else 0.0
    val dupLineCharFrac =
      if (totLineChars > 0) dupLineChars.toDouble / totLineChars else 0.0

    // --- word tokens: ICU lower (Spark 4 `lower()` parity), letter runs ---
    val lowered = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .execBinaryICU(input).toString
    val toks = new scala.collection.mutable.ArrayBuffer[String](64)
    val tokLens = new scala.collection.mutable.ArrayBuffer[Long](64)
    var sumTokLen = 0L
    var start = -1
    var j = 0
    def closeTok(until: Int): Unit = if (start >= 0) {
      val l = lowered.codePointCount(start, until).toLong
      toks += lowered.substring(start, until)
      tokLens += l
      sumTokLen += l
      start = -1
    }
    while (j < lowered.length) {
      val cp = lowered.codePointAt(j)
      if (Character.isLetter(cp)) { if (start < 0) start = j }
      else closeTok(j)
      j += Character.charCount(cp)
    }
    closeTok(lowered.length)

    // (maxCount×len, dupCharMass) over word n-grams of the token stream
    def gramStats(n: Int): (Long, Long) = {
      if (toks.length < n) (0L, 0L)
      else {
        val m = new java.util.HashMap[String, Array[Long]]() // [count, cpLen]
        val sb = new java.lang.StringBuilder()
        var s = 0
        while (s + n <= toks.length) {
          sb.setLength(0)
          var l = 0L
          var k = 0
          while (k < n) {
            if (k > 0) sb.append('\u0000') // unambiguous joiner (tokens are letters)
            sb.append(toks(s + k))
            l += tokLens(s + k)
            k += 1
          }
          val e = m.get(sb.toString)
          if (e == null) m.put(sb.toString, Array(1L, l)) else e(0) += 1
          s += 1
        }
        var best = 0L
        var dup = 0L
        val it = m.values.iterator()
        while (it.hasNext) {
          val e = it.next()
          if (e(0) >= 2) {
            val mass = e(0) * e(1)
            if (mass > best) best = mass
            dup += mass
          }
        }
        (best, dup)
      }
    }
    val top2 = gramStats(2)._1
    val top3 = gramStats(3)._1
    val dup5 = gramStats(5)._2
    def frac(x: Long): Double =
      if (sumTokLen > 0) math.min(x.toDouble / sumTokLen, 1.0) else 0.0

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nLines, dupLineFrac, dupLineCharFrac, frac(top2), frac(top3), frac(dup5)))
  }

  private val localMd5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Hashed char-n-gram bucket ids in one pass — BIT-IDENTICAL to the
    * portable column form
    * `pmod(conv(substring(md5(concat_ws('', gram, seed)), 1, 15),
    * 16, 10), buckets)` but with a reused digest and zero string churn
    * (the column form allocates several strings PER GRAM; at ~30M
    * grams per sf0.1 corpus that measured as the dominant leg of the
    * trained language-id). Equivalences relied on:
    *  - `concat_ws` of two values is `gram ++ 0x01 ++ seed` in UTF-8
    *    bytes — fed to the digest directly;
    *  - the first 15 hex chars of the digest are the first 15 nibbles
    *    of bytes 0..7, i.e. the big-endian unsigned 64-bit of those
    *    bytes shifted right by 4 (60 bits, always nonnegative — so
    *    `%` equals `pmod`);
    *  - grams are CODE-POINT windows (the `Column.substr` rule),
    *    walked here over the UTF-8 bytes with the same
    *    first-byte-length table `substringSQL` uses.
    * Orders emit in sequence (all n₁-grams, then all n₂-grams),
    * matching the column form's per-order array concat. Caller
    * lowercases upstream (`lower(text)` stays a Column op).
    */
  def md5BucketNgrams(input: UTF8String, ns: Array[Int], buckets: Long,
                      seed: Array[Byte]): ArrayData = {
    val bytes = input.getBytes
    // code-point start offsets (one extra slot: end-of-string)
    var cp = 0
    var off = 0
    while (off < bytes.length) {
      off += UTF8String.numBytesForFirstByte(bytes(off))
      cp += 1
    }
    val offs = new Array[Int](cp + 1)
    var i = 0
    off = 0
    while (off < bytes.length) {
      offs(i) = off
      off += UTF8String.numBytesForFirstByte(bytes(off))
      i += 1
    }
    offs(cp) = bytes.length
    var total = 0
    var oi = 0
    while (oi < ns.length) {
      val c = cp - ns(oi) + 1
      if (c > 0) total += c
      oi += 1
    }
    val out = new Array[Long](total)
    val md = localMd5.get()
    var w = 0
    oi = 0
    while (oi < ns.length) {
      val n = ns(oi)
      var p = 0
      while (p + n <= cp) {
        md.reset()
        md.update(bytes, offs(p), offs(p + n) - offs(p))
        md.update(1.toByte)
        md.update(seed)
        val d = md.digest()
        val longBE =
          ((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
          ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
          ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
          ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)
        out(w) = (longBE >>> 4) % buckets
        w += 1
        p += 1
      }
      oi += 1
    }
    new GenericArrayData(out)
  }

  /** Mojibake repair (the ftfy core rule): text that is really UTF-8
    * bytes mis-decoded as Latin-1 ("Ã©" for "é", "ä¸­æ–‡" for CJK) is
    * re-encoded byte-for-byte and strictly re-decoded as UTF-8; the fix
    * applies only when that decode SUCCEEDS and changes the string —
    * valid text can never be damaged, because a string that decodes
    * strictly as UTF-8-in-Latin-1 and differs from itself is, by
    * construction, the mis-decoding. Up to 3 rounds unwind doubly
    * mis-decoded text (each pass inverts one Latin-1 layer exactly:
    * Latin-1 maps bytes 0x00-0xFF to code points 0x00-0xFF bijectively).
    * Strings containing any code point above 0xFF are returned unchanged
    * in that round — they cannot be a Latin-1 mis-decode.
    */
  def fixMojibake(input: UTF8String): UTF8String = {
    var s = input.toString
    var rounds = 0
    var changed = true
    while (changed && rounds < 3) {
      changed = false
      val n = s.length
      var ok = n > 0
      var i = 0
      while (ok && i < n) { if (s.charAt(i) > 0xFF) ok = false; i += 1 }
      if (ok) {
        val bytes = new Array[Byte](n)
        i = 0
        while (i < n) { bytes(i) = s.charAt(i).toByte; i += 1 }
        try {
          val dec = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
            .onMalformedInput(java.nio.charset.CodingErrorAction.REPORT)
            .onUnmappableCharacter(java.nio.charset.CodingErrorAction.REPORT)
          val fixed = dec.decode(java.nio.ByteBuffer.wrap(bytes)).toString
          if (fixed != s) { s = fixed; changed = true }
        } catch { case _: java.nio.charset.CharacterCodingException => () }
      }
      rounds += 1
    }
    UTF8String.fromString(s)
  }

  private val localDeflater = new ThreadLocal[java.util.zip.Deflater] {
    // raw deflate (nowrap: no zlib header/checksum — 6 bytes of overhead
    // that would bias short documents), default level 6
    override def initialValue(): java.util.zip.Deflater =
      new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION,
        true)
  }

  /** Deflate compression ratio of the text's UTF-8 bytes:
    * `compressed_len / raw_len`, raw-deflate at zlib's default level.
    * The cheap model-free quality signal several published pipelines cut
    * on from BOTH tails: near-zero ratios mean machine-repetitive
    * content (a ratio of 0.05 is a page that is one paragraph pasted 20
    * times — word-ngram repetition stats saturate long before that),
    * while ratios near/above 1.0 mean incompressible noise (minified
    * blobs, base64, binary-in-text). Empty text → 1.0 (nothing to
    * judge). One native pass per row; the Deflater is thread-local and
    * reset per call, so no per-row native allocation.
    */
  def deflateRatio(input: UTF8String): Double = {
    val raw = input.getBytes
    if (raw.length == 0) return 1.0
    val d = localDeflater.get()
    d.reset()
    d.setInput(raw)
    d.finish()
    val buf = new Array[Byte](8192)
    var total = 0L
    while (!d.finished()) total += d.deflate(buf)
    total.toDouble / raw.length
  }

  private val hexDigits = "0123456789abcdef".toCharArray

  /** One-pass normalized content fingerprint (see [[NormalizedMd5]]):
    * `md5(trim(lower(regexp_replace(text, "\\s+", " "))))` fused into a
    * single scan + a single string allocation.
    *
    * Semantics parity, piece by piece:
    *  - `regexp_replace(text, "\\s+", " ")`: Java `\s` is exactly
    *    `[ \t\n\x0B\f\r]` (ASCII), so runs of those chars collapse to one
    *    space — here done inline, with the leading/trailing run dropped
    *    instead of emitted (that is precisely what the later `trim`, which
    *    strips ' ' only, would remove: after collapsing, edge whitespace
    *    is exactly one space);
    *  - `lower(...)`: Spark 4's default-collation lower is the ICU case
    *    mapping (`CollationSupport.Lower.execBinaryICU`), applied AFTER the
    *    collapse exactly as in the unfused chain. Reordering lower/trim is
    *    sound: case mapping never produces or consumes U+0020, and the
    *    only context-sensitive mapping (Greek final sigma) sees the same
    *    word-final context whether the edge space was stripped before or
    *    after;
    *  - `md5(...)`: MD5 over the UTF-8 bytes, lowercase hex — identical to
    *    Spark's and DuckDB's md5().
    */
  def normalizedMd5(input: UTF8String): UTF8String = {
    val s = input.toString
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      val isWs = c == ' ' || c == '\t' || c == '\n' || c == 0x0B ||
        c == '\f' || c == '\r'
      if (isWs) { if (sb.length > 0) pendingSpace = true }
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.append(c)
      }
      i += 1
    }
    val lowered = org.apache.spark.sql.catalyst.util.CollationSupport.Lower
      .execBinaryICU(UTF8String.fromString(sb.toString))
    val md = localMd5.get()
    md.reset()
    val dig = md.digest(lowered.getBytes)
    val hex = new Array[Byte](32)
    var j = 0
    while (j < dig.length) {
      hex(2 * j) = hexDigits((dig(j) >> 4) & 0xF).toByte
      hex(2 * j + 1) = hexDigits(dig(j) & 0xF).toByte
      j += 1
    }
    UTF8String.fromBytes(hex)
  }

  /** Unicode text cleanup in one pass — the canonicalization step ahead
    * of tokenization/dedup in a text pipeline:
    *
    *  1. NFC normalization (composed forms; `e` + U+0301 → `é`), skipped
    *     when the input is already normalized (the common case — ASCII
    *     passes the quick check without allocating);
    *  2. every whitespace code point (ASCII `\t\n\f\r` + space, and the
    *     Unicode Z* separators) becomes a single-space run separator;
    *  3. remaining control (Cc) and format (Cf) code points — zero-width
    *     spaces/joiners, BOM, soft hyphen, bidi marks — are struck, and
    *     do NOT break a whitespace run (`a ​ b` collapses to `a b`);
    *  4. leading/trailing whitespace trims.
    *
    * Equivalent to DuckDB/RE2's
    * `trim(regexp_replace(regexp_replace(regexp_replace(nfc_normalize(t),
    * '[\s\p{Z}]', ' ', 'g'), '[\p{Cc}\p{Cf}]', '', 'g'), ' +', ' ',
    * 'g'))` — the oracle formulation (\x0B lands in Cc there and here).
    */
  /** HTML main-text extraction (see [[HtmlExtract]]) — the WARC→text
    * ingest step every web-corpus pipeline runs before any quality or
    * dedup pass (the simplified-readability slot of trafilatura /
    * jusText; BOILERPLATE removal is deliberately out of scope here —
    * that is [[graft.text.Boilerplate]]'s job downstream, on extracted
    * text). Deterministic single pass:
    *
    *  - `<head>…</head>`, `<script>…</script>`, `<style>…</style>`, and
    *    `<!-- comments -->` are dropped whole (case-insensitive tag
    *    match, closed at the matching end tag or end of input);
    *  - every other tag (`<` followed by a letter, `/` or `!`) is
    *    replaced by ONE space so `a</td><td>b` never glues — a stray
    *    `<` not starting a tag is text, like real parsers treat it;
    *  - character entities decode: the HTML named core (amp, lt, gt,
    *    quot, apos, nbsp) plus numeric `&#123;` / `&#x1F;`; unknown
    *    entities stay verbatim;
    *  - whitespace (including decoded NBSP) collapses to single spaces,
    *    leading/trailing trimmed.
    */
  private def htmlEntity(ent: String): Int = ent match {
    case "amp" => '&'
    case "lt" => '<'
    case "gt" => '>'
    case "quot" => '"'
    case "apos" => '\''
    case "nbsp" => 0xA0
    case _ =>
      try {
        if (ent.startsWith("#x") || ent.startsWith("#X"))
          Integer.parseInt(ent.substring(2), 16)
        else if (ent.startsWith("#")) Integer.parseInt(ent.substring(1))
        else -1
      } catch { case _: NumberFormatException => -1 }
  }

  def htmlExtract(input: UTF8String): UTF8String = {
    val s = input.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var lastSpace = true
    def emit(c: Char): Unit = {
      if (Character.isWhitespace(c) || c == '\u00A0') { // NBSP collapses
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      } else { sb.append(c); lastSpace = false }
    }
    def emitCp(cp: Int): Unit = {
      if (cp <= 0xFFFF) emit(cp.toChar)
      else { sb.appendCodePoint(cp); lastSpace = false }
    }
    // does s(i) open `<tag` (case-insensitive) with a proper boundary?
    def opensTag(i: Int, tag: String): Boolean =
      s.regionMatches(true, i + 1, tag, 0, tag.length) && {
        val after = i + 1 + tag.length
        after >= n || s.charAt(after) == '>' || s.charAt(after) == '/' ||
          Character.isWhitespace(s.charAt(after))
      }
    // index just past `</tag …>`, or n if unterminated
    def skipElement(i: Int, tag: String): Int = {
      var j = i
      while (j < n) {
        if (s.charAt(j) == '<' && j + 1 < n && s.charAt(j + 1) == '/' &&
            s.regionMatches(true, j + 2, tag, 0, tag.length)) {
          val gt = s.indexOf('>', j)
          return if (gt < 0) n else gt + 1
        }
        j += 1
      }
      n
    }
    def decodeEntity(ent: String): Int = htmlEntity(ent)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (opensTag(i, "script")) i = skipElement(i + 1, "script")
        else if (opensTag(i, "style")) i = skipElement(i + 1, "style")
        else if (opensTag(i, "head")) i = skipElement(i + 1, "head")
        else if (i + 1 < n && {
          val c1 = s.charAt(i + 1)
          (c1 >= 'a' && c1 <= 'z') || (c1 >= 'A' && c1 <= 'Z') ||
            c1 == '/' || c1 == '!'
        }) {
          val gt = s.indexOf('>', i)
          emit(' ')
          i = if (gt < 0) n else gt + 1
        } else { emit(c); i += 1 }
      } else if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i + 1 && semi - i <= 10) {
          val cp = decodeEntity(s.substring(i + 1, semi))
          if (cp >= 0 && Character.isValidCodePoint(cp)) {
            emitCp(cp); i = semi + 1
          } else { emit(c); i += 1 }
        } else { emit(c); i += 1 }
      } else { emit(c); i += 1 }
    }
    while (sb.length > 0 && sb.charAt(sb.length - 1) == ' ')
      sb.setLength(sb.length - 1)
    UTF8String.fromString(sb.toString)
  }

  /** Luhn-validated payment-card redaction (see [[LuhnRedact]]): find
    * card-shaped digit runs — the RE2-safe pattern
    * `\d(?:[ -]?\d){12,18}` (13-19 digits, single space/dash
    * separators), matched greedily left-to-right with a fresh attempt
    * at every position exactly like `java.util.regex`
    * (`LuhnRedactSpec` pins that equivalence on randomized inputs) —
    * validate each candidate's digits with the Luhn checksum (ISO/IEC
    * 7812, the public card check digit), and replace PASSING candidates
    * with `<CARD>`. Failing candidates are emitted verbatim and skipped
    * whole (the `Matcher.find` loop shape: a match consumes its span
    * whether or not the callback rewrites it), so a valid suffix inside
    * an invalid candidate is never re-examined — deterministic and
    * replayable by an external engine that extracts the same regex
    * candidates and applies the same checksum.
    */
  def luhnRedact(input: UTF8String): UTF8String = {
    val s = input.toString
    val n = s.length
    def digit(c: Char): Boolean = c >= '0' && c <= '9'
    // greedy candidate from a digit at `start`: returns end offset
    // (exclusive, always after a digit) if 13..19 digits fit, else -1
    def candidateEnd(start: Int): Int = {
      var j = start
      var digits = 0
      var end = -1
      var done = false
      while (!done) {
        if (j < n && digit(s.charAt(j)) && digits < 19) {
          digits += 1; end = j + 1; j += 1
        } else if (j + 1 < n && (s.charAt(j) == ' ' || s.charAt(j) == '-') &&
            digit(s.charAt(j + 1)) && digits < 19 && digits > 0) {
          j += 1 // separator rides only with a digit behind it
        } else done = true
      }
      if (digits >= 13) end else -1
    }
    def luhnValid(from: Int, until: Int): Boolean = {
      var sum = 0
      var idx = 0
      var k = until - 1
      while (k >= from) {
        val c = s.charAt(k)
        if (digit(c)) {
          var d = c - '0'
          if (idx % 2 == 1) { d *= 2; if (d > 9) d -= 9 }
          sum += d
          idx += 1
        }
        k -= 1
      }
      sum % 10 == 0
    }
    val out = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (digit(c)) {
        val end = candidateEnd(i)
        if (end > 0 && luhnValid(i, end)) { out.append("<CARD>"); i = end }
        else if (end > 0) { out.append(s, i, end); i = end }
        else { out.append(c); i += 1 }
      } else { out.append(c); i += 1 }
    }
    UTF8String.fromString(out.toString)
  }

  def unicodeClean(input: UTF8String): UTF8String = {
    val s0 = input.toString
    val s =
      if (java.text.Normalizer.isNormalized(s0, java.text.Normalizer.Form.NFC)) s0
      else java.text.Normalizer.normalize(s0, java.text.Normalizer.Form.NFC)
    // already-clean fast path: when nothing rewrites (the common case for
    // ASCII corpus text) the input UTF8String is returned as-is — no
    // StringBuilder materialization, no re-encode
    var changed = s ne s0
    val sb = new java.lang.StringBuilder(s.length)
    var pendingSpace = false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val t = Character.getType(cp)
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' ||
        cp == '\r' || t == Character.SPACE_SEPARATOR ||
        t == Character.LINE_SEPARATOR || t == Character.PARAGRAPH_SEPARATOR
      if (isWs) {
        if (cp != ' ') changed = true
        if (sb.length > 0) { if (pendingSpace) changed = true; pendingSpace = true }
        else changed = true // leading whitespace trims
      }
      else if (t == Character.CONTROL || t == Character.FORMAT) changed = true
      else {
        if (pendingSpace) { sb.append(' '); pendingSpace = false }
        sb.appendCodePoint(cp)
      }
      i += Character.charCount(cp)
    }
    if (pendingSpace) changed = true // trailing whitespace trims
    if (!changed) input else UTF8String.fromString(sb.toString)
  }

  /** The `nprobe` nearest centroids by dot product, as array<int> (see
    * [[graft.ml.NearestCentroids]]).
    */
  def nearestCentroids(input: ArrayData, centroids: Array[Array[Double]],
                       nprobe: Int, isFloat: Boolean): ArrayData = {
    val dim = math.min(input.numElements(), centroids(0).length)
    val k = centroids.length
    val scores = new Array[Double](k)
    var c = 0
    while (c < k) {
      var s = 0.0; var i = 0
      val cent = centroids(c)
      while (i < dim) {
        val x = if (isFloat) input.getFloat(i).toDouble else input.getDouble(i)
        s += x * cent(i)
        i += 1
      }
      scores(c) = s
      c += 1
    }
    // partial selection of the nprobe best (descending score, index tiebreak)
    val out = new Array[Int](math.min(nprobe, k))
    val taken = new Array[Boolean](k)
    var p = 0
    while (p < out.length) {
      var best = -1
      var bs = Double.NegativeInfinity
      var j = 0
      while (j < k) {
        if (!taken(j) && scores(j) > bs) { bs = scores(j); best = j }
        j += 1
      }
      taken(best) = true
      out(p) = best
      p += 1
    }
    new GenericArrayData(out)
  }

  /** Z-order value (see [[ZValue]]): each column's double is range-bucketed
    * by binary search over its quantile boundaries (`bounds` holds
    * `(1<<bits)-1` ascending boundaries per column, column-major), and the
    * bucket indices' bits are interleaved — bit b of column c lands at
    * z-bit `b*nCols + c`. NULL/NaN bucket to 0 (cluster first, like
    * Delta's Z-order NULL handling).
    */
  def zValue(vals: ArrayData, bounds: Array[Double], nCols: Int, bits: Int): Long = {
    val perCol = (1 << bits) - 1
    var z = 0L
    var c = 0
    while (c < nCols) {
      var bucket = 0
      if (!vals.isNullAt(c)) {
        val v = vals.getDouble(c)
        var lo = 0
        var hi = perCol
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bounds(c * perCol + mid) <= v) lo = mid + 1 else hi = mid
        }
        bucket = lo // insertion point in [0, (1<<bits)-1]; NaN compares to 0
      }
      var b = 0
      while (b < bits) {
        z |= ((bucket >> b) & 1).toLong << (b * nCols + c)
        b += 1
      }
      c += 1
    }
    z
  }

  /** Hilbert-curve value: the same quantile range-bucketing as
    * [[zValue]], but bucket coordinates map through the Hilbert curve
    * instead of bit interleaving (Skilling 2004, "Programming the
    * Hilbert curve" — the public-domain transpose algorithm). Adjacent
    * curve positions differ by ONE step in ONE dimension (a property
    * Z-order lacks at bucket-boundary jumps), so range probes on any
    * clustered column touch fewer files at equal file counts.
    */
  def hilbertValue(vals: ArrayData, bounds: Array[Double],
                   nCols: Int, bits: Int): Long = {
    val perCol = (1 << bits) - 1
    if (nCols == 2)
      // the dominant OPTIMIZE shape gets the allocation-free unrolled
      // path (~2x the generic transpose's row rate, measured)
      return hilbertIndex2(bucketOf(vals, bounds, 0, perCol),
        bucketOf(vals, bounds, 1, perCol), bits)
    val x = new Array[Int](nCols)
    var c = 0
    while (c < nCols) {
      x(c) = bucketOf(vals, bounds, c, perCol)
      c += 1
    }
    hilbertIndex(x, nCols, bits)
  }

  /** Column `c`'s quantile bucket (binary search; NULL/NaN -> 0). */
  private def bucketOf(vals: ArrayData, bounds: Array[Double],
                       c: Int, perCol: Int): Int = {
    if (vals.isNullAt(c)) return 0
    val v = vals.getDouble(c)
    var lo = 0
    var hi = perCol
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (bounds(c * perCol + mid) <= v) lo = mid + 1 else hi = mid
    }
    lo
  }

  /** [[hilbertIndex]] specialized to n=2 with the per-axis state in
    * locals: Skilling's loop unrolled (the i=0 else-branch is a no-op —
    * `x0 ^ x0 = 0`), no array, no inner loops. MUST stay bit-for-bit
    * equal to the generic transpose (pinned in HilbertSpec).
    */
  def hilbertIndex2(b0: Int, b1: Int, bits: Int): Long = {
    var x0 = b0
    var x1 = b1
    var q = 1 << (bits - 1)
    while (q > 1) {
      val p = q - 1
      if ((x0 & q) != 0) x0 ^= p
      if ((x1 & q) != 0) x0 ^= p
      else { val t = (x0 ^ x1) & p; x0 ^= t; x1 ^= t }
      q >>= 1
    }
    x1 ^= x0
    var t = 0
    q = 2
    val top = 1 << bits
    while (q != top) { if ((x1 & q) != 0) t ^= q - 1; q <<= 1 }
    x0 ^= t
    x1 ^= t
    var h = 0L
    var b = bits - 1
    while (b >= 0) {
      h = (h << 2) | (((x0 >> b) & 1) << 1) | ((x1 >> b) & 1)
      b -= 1
    }
    h
  }

  /** Axes -> Hilbert index (Skilling's AxesToTranspose + MSB-first bit
    * interleave of the transposed form). Mutates `x`.
    */
  def hilbertIndex(x: Array[Int], n: Int, bits: Int): Long = {
    // Gray-decode / rotate (Skilling 2004, public domain)
    var q = 1 << (bits - 1)
    while (q > 1) {
      val p = q - 1
      var i = 0
      while (i < n) {
        if ((x(i) & q) != 0) x(0) ^= p // invert low bits of axis 0
        else { val t = (x(0) ^ x(i)) & p; x(0) ^= t; x(i) ^= t }
        i += 1
      }
      q >>= 1
    }
    var i = 1
    while (i < n) { x(i) ^= x(i - 1); i += 1 }
    var t = 0
    q = 2
    while (q != (1 << bits)) { if ((x(n - 1) & q) != 0) t ^= q - 1; q <<= 1 }
    i = 0
    while (i < n) { x(i) ^= t; i += 1 }
    // transposed form -> scalar index: MSB-first across dimensions
    var h = 0L
    var b = bits - 1
    while (b >= 0) {
      i = 0
      while (i < n) { h = (h << 1) | ((x(i) >> b) & 1); i += 1 }
      b -= 1
    }
    h
  }

  /** All Gopher document-quality counters in ONE forward scan (plus an
    * O(1)-per-line backward peek for trims). Semantics replicate the
    * Column/DuckDB formulation built-in-for-built-in:
    *  - words: maximal runs of non-`\s` (Java ASCII whitespace class);
    *    per word: codepoint length, contains-[A-Za-z], ASCII-ci equality
    *    to the canonical stopwords
    *  - symbols: '#' + '…' occurrences + non-overlapping "..." count
    *    (each run of k dots contributes k/3, the greedy replace() count)
    *  - lines: '\n' splits; nonempty after space-trim; bullet = ltrimmed
    *    line starts with '•', "- " or "* "; ellipsis = rtrimmed line ends
    *    with "..." or '…'
    */
  def gopherStats(input: UTF8String, stopwords: Array[String])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val s = input.toString
    var nWords = 0L; var sumWordLen = 0L; var alphaWords = 0L
    var nSymbols = 0L
    var nLines = 0L; var bulletLines = 0L; var ellipsisLines = 0L
    val found = new Array[Boolean](stopwords.length)

    var wordStart = -1
    var wordHasAlpha = false
    var dotRun = 0
    var lineStart = 0

    def closeWord(until: Int): Unit = if (wordStart >= 0) {
      nWords += 1
      sumWordLen += s.codePointCount(wordStart, until)
      if (wordHasAlpha) alphaWords += 1
      // ASCII-case-insensitive stopword membership (stopwords are ASCII;
      // no ASCII-ci-equal word survives a Unicode lower() differently)
      val len = until - wordStart
      var k = 0
      while (k < stopwords.length) {
        if (!found(k)) {
          val sw = stopwords(k)
          if (sw.length == len) {
            var m = 0
            var eq = true
            while (eq && m < len) {
              val c = s.charAt(wordStart + m)
              val lc = if (c >= 'A' && c <= 'Z') (c + 32).toChar else c
              if (lc != sw.charAt(m)) eq = false
              m += 1
            }
            if (eq) found(k) = true
          }
        }
        k += 1
      }
      wordStart = -1; wordHasAlpha = false
    }

    def closeLine(until: Int): Unit = {
      // rtrim spaces
      var e = until
      while (e > lineStart && s.charAt(e - 1) == ' ') e -= 1
      if (e > lineStart) {
        nLines += 1
        // ltrim spaces
        var b = lineStart
        while (b < e && s.charAt(b) == ' ') b += 1
        val first = s.codePointAt(b)
        // the "- "/"* " check reads the UNTRIMMED line end (`until`, not
        // `e`): `ltrim(l) LIKE '- %'` matches a bullet marker followed by
        // only spaces, and the Column formulation's startsWith("- ") did too
        if (first == 0x2022 ||
            ((first == '-' || first == '*') &&
              b + 1 < until && s.charAt(b + 1) == ' '))
          bulletLines += 1
        val last = s.charAt(e - 1)
        if (last == 0x2026.toChar ||
            (last == '.' && e - lineStart >= 3 &&
              s.charAt(e - 2) == '.' && s.charAt(e - 3) == '.'))
          ellipsisLines += 1
      }
      lineStart = until + 1
    }

    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      // Java-regex \s (what Spark's split uses), matching the other text
      // kernels. Known asymmetry: RE2 (DuckDB) excludes VT (0x0B) from
      // \s — a corpus containing vertical tabs would diverge from the
      // oracle there, on the Spark-split side of the fence.
      val isWs = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
        cp == '\f' || cp == '\r'
      if (isWs) closeWord(i)
      else {
        if (wordStart < 0) wordStart = i
        if (!wordHasAlpha &&
            ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')))
          wordHasAlpha = true
      }
      if (cp == '.') dotRun += 1
      else { nSymbols += dotRun / 3; dotRun = 0 }
      if (cp == '#' || cp == 0x2026) nSymbols += 1
      if (cp == '\n') closeLine(i)
      i += Character.charCount(cp)
    }
    closeWord(s.length)
    nSymbols += dotRun / 3
    closeLine(s.length)

    var stopHits = 0L
    var k = 0
    while (k < found.length) { if (found(k)) stopHits += 1; k += 1 }

    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      nWords, sumWordLen, alphaWords, nSymbols,
      nLines, bulletLines, ellipsisLines, stopHits))
  }

  // ---- product quantization ---------------------------------------------

  private def readVecNormalized(vec: ArrayData, isFloat: Boolean): Array[Double] = {
    val n = vec.numElements()
    val v = new Array[Double](n)
    var i = 0
    var ss = 0.0
    while (i < n) {
      val x = if (isFloat) vec.getFloat(i).toDouble else vec.getDouble(i)
      v(i) = x; ss += x * x; i += 1
    }
    if (ss > 0) {
      val inv = 1.0 / math.sqrt(ss)
      i = 0
      while (i < n) { v(i) *= inv; i += 1 }
    }
    v
  }

  /** PQ codes of a vector: L2-normalize, split into `m` subvectors of
    * `dsub` dims, per subspace pick the L2-nearest of `ksub` codebook
    * centroids. `codebooks` is [sub][centroid][dim] flattened.
    */
  def pqEncode(vec: ArrayData, isFloat: Boolean, codebooks: Array[Double],
               m: Int, ksub: Int, dsub: Int): ArrayData = {
    if (vec.numElements() != m * dsub) return null // wrong-dim row: null, don't kill the scan
    val v = readVecNormalized(vec, isFloat)
    val codes = new Array[Byte](m)
    var sub = 0
    while (sub < m) {
      val off = sub * dsub
      var best = 0; var bd = Double.MaxValue
      var j = 0
      while (j < ksub) {
        val cOff = (sub * ksub + j) * dsub
        var d = 0.0
        var t = 0
        while (t < dsub) {
          val diff = v(off + t) - codebooks(cOff + t)
          d += diff * diff
          t += 1
        }
        if (d < bd) { bd = d; best = j }
        j += 1
      }
      codes(sub) = best.toByte
      sub += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(codes)
  }

  /** ADC lookup table of a query vector: LUT[sub*ksub + j] =
    * ⟨q_sub, codebook[sub][j]⟩ over the L2-normalized query — computed
    * once per query, so scoring a candidate costs m array reads instead
    * of a dim-length dot product.
    */
  def pqLut(vec: ArrayData, isFloat: Boolean, codebooks: Array[Double],
            m: Int, ksub: Int, dsub: Int): ArrayData = {
    if (vec.numElements() != m * dsub) return null // wrong-dim row: null, don't kill the scan
    val v = readVecNormalized(vec, isFloat)
    val lut = new Array[Double](m * ksub)
    var sub = 0
    while (sub < m) {
      val off = sub * dsub
      var j = 0
      while (j < ksub) {
        val cOff = (sub * ksub + j) * dsub
        var s = 0.0
        var t = 0
        while (t < dsub) { s += v(off + t) * codebooks(cOff + t); t += 1 }
        lut(sub * ksub + j) = s
        j += 1
      }
      sub += 1
    }
    org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(lut)
  }

  /** ADC score: Σ_sub LUT[sub*ksub + code_sub] — the approximate inner
    * product of a (normalized) query and a PQ-encoded candidate.
    */
  def pqAdcScore(lut: ArrayData, codes: ArrayData, ksub: Int): Double = {
    val m = codes.numElements()
    var s = 0.0
    var sub = 0
    while (sub < m) {
      s += lut.getDouble(sub * ksub + (codes.getByte(sub) & 0xff))
      sub += 1
    }
    s
  }

  /** URL canonicalization for crawl-frontier / URL-level dedup, one pass:
    *
    *  - scheme and host lowercase; userinfo and PATH CASE preserved
    *  - default ports stripped (http:80, https:443), as is a bare `:`
    *  - fragment dropped
    *  - tracking params dropped: exact names in `dropNames` (lowercase)
    *    plus any name starting with a `dropPrefixes` entry,
    *    case-insensitively
    *  - surviving query params sorted by name (byte order), STABLE —
    *    equal keys keep their original relative order (param order is
    *    not semantic per RFC 3986 §6, but duplicate-key order can be)
    *  - trailing path `/` stripped except the root path; an empty path
    *    with an authority becomes `/`
    *
    * NOT done (documented, deliberately): percent-decoding of unreserved
    * characters and IDN host folding — both need full escape-table /
    * punycode handling to be round-trip safe, and a partial version
    * would MERGE urls that differ. Inputs without a `://` scheme pass
    * through trimmed-only: not parseable as absolute URLs, and inventing
    * a scheme would fabricate distinctions.
    */
  def canonicalizeUrl(input: UTF8String,
                      dropNames: java.util.HashSet[String],
                      dropPrefixes: Array[String]): UTF8String = {
    val raw = input.toString.trim
    val ss = raw.indexOf("://")
    if (ss <= 0) return UTF8String.fromString(raw)
    val scheme = raw.substring(0, ss)
    var i = 0
    var schemeOk = true
    while (schemeOk && i < scheme.length) {
      val c = scheme.charAt(i)
      val ok = (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
        (i > 0 && ((c >= '0' && c <= '9') || c == '+' || c == '-' || c == '.'))
      if (!ok) schemeOk = false
      i += 1
    }
    if (!schemeOk) return UTF8String.fromString(raw)
    val schemeLc = scheme.toLowerCase(java.util.Locale.ROOT)

    val rest = raw.substring(ss + 3)
    var authEnd = rest.length
    var j = 0
    var found = false
    while (!found && j < rest.length) {
      val c = rest.charAt(j)
      if (c == '/' || c == '?' || c == '#') { authEnd = j; found = true }
      j += 1
    }
    var auth = rest.substring(0, authEnd)
    val tail = rest.substring(authEnd)

    // authority = [userinfo@]host[:port]; host lowercases, the default
    // port (and a dangling ':') drops
    val at = auth.lastIndexOf('@')
    val userinfo = if (at >= 0) auth.substring(0, at + 1) else ""
    var hostPort = if (at >= 0) auth.substring(at + 1) else auth
    // IPv6 literals carry ':' inside brackets — only split on a ':'
    // after the closing bracket (or anywhere when unbracketed)
    val cb = hostPort.lastIndexOf(']')
    val colon = hostPort.indexOf(':', if (cb >= 0) cb else 0)
    var host = if (colon >= 0) hostPort.substring(0, colon) else hostPort
    var port = if (colon >= 0) hostPort.substring(colon + 1) else ""
    host = host.toLowerCase(java.util.Locale.ROOT)
    val defaultPort =
      (schemeLc == "http" && port == "80") ||
      (schemeLc == "https" && port == "443")
    val portPart =
      if (colon < 0 || port.isEmpty || defaultPort) "" else ":" + port
    auth = userinfo + host + portPart

    // split tail into path / query / fragment (fragment drops)
    val hash = tail.indexOf('#')
    val noFrag = if (hash >= 0) tail.substring(0, hash) else tail
    val qm = noFrag.indexOf('?')
    var path = if (qm >= 0) noFrag.substring(0, qm) else noFrag
    val query = if (qm >= 0) noFrag.substring(qm + 1) else null

    if (path.isEmpty) path = "/"
    else if (path.length > 1 && path.charAt(path.length - 1) == '/')
      path = path.substring(0, path.length - 1)

    var queryPart = ""
    if (query != null && query.nonEmpty) {
      val params = query.split("&", -1)
      val kept = new java.util.ArrayList[String](params.length)
      var p = 0
      while (p < params.length) {
        val param = params(p)
        if (param.nonEmpty) {
          val eq = param.indexOf('=')
          val name = (if (eq >= 0) param.substring(0, eq) else param)
            .toLowerCase(java.util.Locale.ROOT)
          var drop = dropNames.contains(name)
          var pi = 0
          while (!drop && pi < dropPrefixes.length) {
            if (name.startsWith(dropPrefixes(pi))) drop = true
            pi += 1
          }
          if (!drop) kept.add(param)
        }
        p += 1
      }
      if (!kept.isEmpty) {
        // stable sort BY NAME only — duplicate keys keep arrival order
        val arr = new Array[String](kept.size())
        kept.toArray(arr)
        java.util.Arrays.sort(arr, new java.util.Comparator[String] {
          override def compare(a: String, b: String): Int = {
            val ea = a.indexOf('='); val eb = b.indexOf('=')
            val ka = if (ea >= 0) a.substring(0, ea) else a
            val kb = if (eb >= 0) b.substring(0, eb) else b
            ka.compareTo(kb)
          }
        })
        queryPart = "?" + String.join("&", arr: _*)
      }
    }
    UTF8String.fromString(schemeLc + "://" + auth + path + queryPart)
  }

  private def joinLabels(labels: Array[String], from: Int): String = {
    val sb = new java.lang.StringBuilder()
    var i = from
    while (i < labels.length) {
      if (i > from) sb.append('.')
      sb.append(labels(i))
      i += 1
    }
    sb.toString
  }

  /** Registrable ("eTLD+1") domain of a URL or bare host, public-suffix
    * semantics (publicsuffix.org algorithm): host extracted as in
    * [[canonicalizeUrl]] (userinfo/port stripped), lowercased, trailing
    * dot dropped; among the rule matches an EXCEPTION rule prevails
    * (its own domain is the registrable domain), else the LONGEST
    * exact/wildcard suffix wins, else the implicit `*` rule makes the
    * last label the suffix; the registrable domain is the suffix plus
    * one label. Returns null when the host is malformed (empty label)
    * or is itself a public suffix; IP literals pass through unchanged
    * (they are their own grouping key).
    */
  def registrableDomain(input: UTF8String, table: SuffixTable): UTF8String = {
    val raw = input.toString.trim
    if (raw.isEmpty) return null
    var host = {
      val ss = raw.indexOf("://")
      val rest = if (ss > 0) raw.substring(ss + 3) else raw
      var end = rest.length
      var j = 0
      var found = false
      while (!found && j < rest.length) {
        val c = rest.charAt(j)
        if (c == '/' || c == '?' || c == '#') { end = j; found = true }
        j += 1
      }
      var auth = rest.substring(0, end)
      val at = auth.lastIndexOf('@')
      if (at >= 0) auth = auth.substring(at + 1)
      val cb = auth.lastIndexOf(']')
      val colon = auth.indexOf(':', if (cb >= 0) cb else 0)
      if (colon >= 0) auth.substring(0, colon) else auth
    }
    host = host.toLowerCase(java.util.Locale.ROOT)
    if (host.nonEmpty && host.charAt(host.length - 1) == '.')
      host = host.substring(0, host.length - 1)
    if (host.isEmpty) return null
    if (host.charAt(0) == '[') return UTF8String.fromString(host) // IPv6
    val labels = host.split('.')
    val n = labels.length
    if (n == 0) return null
    var allNumeric = true
    var li = 0
    while (li < n) {
      val l = labels(li)
      if (l.isEmpty) return null
      var ci = 0
      while (allNumeric && ci < l.length) {
        val c = l.charAt(ci)
        if (c < '0' || c > '9') allNumeric = false
        ci += 1
      }
      li += 1
    }
    if (allNumeric && n == 4) return UTF8String.fromString(host) // IPv4
    // exception rules prevail: the rule itself IS the registrable domain
    var s = 0
    while (s < n) {
      val cand = joinLabels(labels, s)
      if (table.exceptions.contains(cand)) return UTF8String.fromString(cand)
      s += 1
    }
    // longest exact/wildcard suffix (scan longest-first); default rule
    // `*` = the bare TLD
    var suffixStart = n - 1
    var matched = false
    s = 0
    while (!matched && s < n) {
      if (table.exact.contains(joinLabels(labels, s)) ||
          (s + 1 < n && table.wildcardParents.contains(joinLabels(labels, s + 1)))) {
        suffixStart = s
        matched = true
      }
      s += 1
    }
    if (suffixStart == 0) null // the host is itself a public suffix
    else UTF8String.fromString(joinLabels(labels, suffixStart - 1))
  }

  /** Decode HTML entities (and optionally strip tags + collapse
    * whitespace) from a raw fragment — the anchor-text / href cleanup
    * shared by [[htmlLinks]].
    */
  private def htmlDecode(s: String, stripTags: Boolean,
                         collapse: Boolean): String = {
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var lastSpace = true
    def emit(c: Char): Unit =
      if (collapse && (Character.isWhitespace(c) || c == ' ')) {
        if (!lastSpace) { sb.append(' '); lastSpace = true }
      } else { sb.append(c); lastSpace = false }
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (stripTags && c == '<') {
        val gt = s.indexOf('>', i)
        emit(' ')
        i = if (gt < 0) n else gt + 1
      } else if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i + 1 && semi - i <= 10) {
          val cp = htmlEntity(s.substring(i + 1, semi))
          if (cp >= 0 && Character.isValidCodePoint(cp)) {
            if (cp <= 0xFFFF) emit(cp.toChar)
            else { sb.appendCodePoint(cp); lastSpace = false }
            i = semi + 1
          } else { emit(c); i += 1 }
        } else { emit(c); i += 1 }
      } else { emit(c); i += 1 }
    }
    val out = sb.toString
    if (collapse) out.trim else out
  }

  /** The `href` attribute value inside an `<a ...>` tag's attribute
    * span: case-insensitive name, quoted (single/double) or unquoted
    * value. Null when absent. The span is tokenized attribute-by-
    * attribute (names scanned, quoted values skipped whole) rather than
    * substring-searched, so an `href=` occurring INSIDE another
    * attribute's value (`<a title="see href=evil" href="/real">`) is
    * never mistaken for the attribute itself.
    */
  private def findHref(attrs: String): String = {
    val n = attrs.length
    var i = 0
    while (i < n) {
      // skip whitespace and stray '/' between attributes
      while (i < n && (Character.isWhitespace(attrs.charAt(i)) ||
          attrs.charAt(i) == '/')) i += 1
      if (i >= n) return null
      // attribute name: up to whitespace, '=', or end
      val nameStart = i
      while (i < n && !Character.isWhitespace(attrs.charAt(i)) &&
          attrs.charAt(i) != '=') i += 1
      val isHref = i - nameStart == 4 &&
        attrs.regionMatches(true, nameStart, "href", 0, 4)
      // optional whitespace, then '=' introduces a value
      var j = i
      while (j < n && Character.isWhitespace(attrs.charAt(j))) j += 1
      if (j < n && attrs.charAt(j) == '=') {
        j += 1
        while (j < n && Character.isWhitespace(attrs.charAt(j))) j += 1
        if (j >= n) return null
        val q = attrs.charAt(j)
        if (q == '"' || q == '\'') {
          val e = attrs.indexOf(q, j + 1)
          val end = if (e < 0) n else e
          if (isHref) return attrs.substring(j + 1, end).trim
          i = if (e < 0) n else e + 1
        } else {
          var e = j
          while (e < n && !Character.isWhitespace(attrs.charAt(e))) e += 1
          if (isHref) return attrs.substring(j, e).trim
          i = e
        }
      }
      // valueless attribute (e.g. `download`): loop continues from i
    }
    null
  }

  /** `<tag>value</tag>` inside an XML block: boundary-checked open tag
    * (attributes allowed), entity-decoded, trimmed. Null when absent —
    * the per-field extractor for [[sitemapEntries]].
    */
  private def xmlTagValue(block: String, tag: String): String = {
    val open = "<" + tag
    val n = block.length
    var i = block.indexOf(open)
    while (i >= 0) {
      val after = i + open.length
      if (after < n && (block.charAt(after) == '>' ||
          Character.isWhitespace(block.charAt(after)))) {
        val gt = block.indexOf('>', i)
        if (gt < 0) return null
        val close = block.indexOf("</" + tag, gt + 1)
        if (close < 0) return null
        return htmlDecode(block.substring(gt + 1, close),
          stripTags = false, collapse = false).trim
      }
      i = block.indexOf(open, i + 1)
    }
    null
  }

  /** Sitemap parsing (the public sitemaps.org protocol — the crawl
    * frontier's SEED source alongside outlink discovery): one pass over
    * the XML collecting `(loc, lastmod, kind)` for every `<url>` entry
    * of a `<urlset>` (kind `url`) and every `<sitemap>` entry of a
    * `<sitemapindex>` (kind `sitemap` — the nested-index indirection
    * real sites shard large maps with). Entries keep document order;
    * `loc` and `lastmod` are entity-decoded and trimmed; entries
    * without a `<loc>` are skipped (the protocol makes loc mandatory).
    * Boundary checks keep `<urlset>`/`<sitemapindex>` themselves from
    * matching as entries.
    */
  def sitemapEntries(input: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = input.toString
    val n = s.length
    val rows =
      new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.catalyst.InternalRow]()
    def scanBlocks(tag: String, kind: String): Unit = {
      val open = "<" + tag
      val close = "</" + tag
      var i = s.indexOf(open)
      while (i >= 0) {
        val after = i + open.length
        if (after < n && (s.charAt(after) == '>' ||
            Character.isWhitespace(s.charAt(after)))) {
          val end = s.indexOf(close, i)
          val stop = if (end < 0) n else end
          val block = s.substring(i, stop)
          val loc = xmlTagValue(block, "loc")
          if (loc != null && loc.nonEmpty) {
            val lastmod = xmlTagValue(block, "lastmod")
            rows += org.apache.spark.sql.catalyst.InternalRow(
              UTF8String.fromString(loc),
              if (lastmod == null || lastmod.isEmpty) null
              else UTF8String.fromString(lastmod),
              UTF8String.fromString(kind))
          }
          i = s.indexOf(open, stop + 1)
        } else i = s.indexOf(open, i + 1)
      }
    }
    scanBlocks("url", "url")
    scanBlocks("sitemap", "sitemap")
    new org.apache.spark.sql.catalyst.util.GenericArrayData(rows.toArray)
  }

  /** Outlink extraction (see [[graft.plans.HtmlLinks]]): one pass over
    * the page collecting `(href, anchor)` for every `<a>` carrying an
    * `href` — the crawl-frontier feed between [[htmlExtract]] and the
    * URL normalizers. Hrefs are entity-decoded verbatim (relative links
    * stay relative — resolution is the caller's frontier policy);
    * anchor text is tag-stripped, entity-decoded, and
    * whitespace-collapsed like the main-text extractor. Links inside
    * comments and script/style blocks are skipped.
    */
  def htmlLinks(input: UTF8String)
      : org.apache.spark.sql.catalyst.util.ArrayData = {
    val s = input.toString
    val n = s.length
    val rows =
      new scala.collection.mutable.ArrayBuffer[
        org.apache.spark.sql.catalyst.InternalRow]()
    def tagBoundary(pos: Int): Boolean =
      pos >= n || s.charAt(pos) == '>' || s.charAt(pos) == '/' ||
        Character.isWhitespace(s.charAt(pos))
    def skipElement(i: Int, tag: String): Int = {
      var j = i
      while (j < n) {
        if (s.charAt(j) == '<' && j + 1 < n && s.charAt(j + 1) == '/' &&
            s.regionMatches(true, j + 2, tag, 0, tag.length)) {
          val gt = s.indexOf('>', j)
          return if (gt < 0) n else gt + 1
        }
        j += 1
      }
      n
    }
    var i = 0
    while (i < n) {
      if (s.charAt(i) == '<') {
        if (s.regionMatches(false, i, "<!--", 0, 4)) {
          val e = s.indexOf("-->", i + 4)
          i = if (e < 0) n else e + 3
        } else if (s.regionMatches(true, i + 1, "script", 0, 6) &&
            tagBoundary(i + 7)) i = skipElement(i + 1, "script")
        else if (s.regionMatches(true, i + 1, "style", 0, 5) &&
            tagBoundary(i + 6)) i = skipElement(i + 1, "style")
        else if (s.regionMatches(true, i + 1, "a", 0, 1) &&
            tagBoundary(i + 2)) {
          val gt = s.indexOf('>', i)
          if (gt < 0) i = n
          else {
            val href = findHref(s.substring(i + 2, gt))
            // anchor runs to the matching </a> (HTML forbids nesting)
            var j = gt + 1
            var end = -1
            while (end < 0 && j < n) {
              if (s.charAt(j) == '<' && j + 1 < n && s.charAt(j + 1) == '/' &&
                  s.regionMatches(true, j + 2, "a", 0, 1) &&
                  (j + 3 >= n || s.charAt(j + 3) == '>' ||
                    Character.isWhitespace(s.charAt(j + 3)))) end = j
              j += 1
            }
            val anchorRaw = s.substring(gt + 1, if (end < 0) n else end)
            if (href != null)
              rows += org.apache.spark.sql.catalyst.InternalRow(
                UTF8String.fromString(
                  htmlDecode(href, stripTags = false, collapse = false)),
                UTF8String.fromString(
                  htmlDecode(anchorRaw, stripTags = true, collapse = true)))
            i = if (end < 0) n
            else {
              val g2 = s.indexOf('>', end)
              if (g2 < 0) n else g2 + 1
            }
          }
        } else i += 1
      } else i += 1
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      rows.toArray[Any])
  }
}
