package graft.kernel

import scala.collection.mutable

/** Pure text-hashing kernels for the training-data pipeline operators —
  * no Spark dependencies, no JVM-hash dependence (all hashes are
  * explicit arithmetic so results are stable across platforms/runs).
  */
object TextKernel {

  /** FNV-1a 64-bit over UTF-16 code units. */
  def hash64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** splitmix64 finalizer — cheap independent-ish rehash family. */
  def mix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** FNV-1a 64-bit over the UTF-16 code units in [from, until) —
    * identical to `hash64(s.substring(from, until))` without the
    * substring allocation (shingling hashes every window of every
    * document; the allocation is the dominant cost at corpus scale).
    */
  def hash64Range(s: String, from: Int, until: Int): Long = {
    var h = 0xcbf29ce484222325L
    var i = from
    while (i < until) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Distinct character n-gram (shingle) hash set of a string. */
  def shingleHashes(text: String, n: Int): Array[Long] = {
    if (text.length < n) return Array.empty
    val set = new mutable.HashSet[Long]
    var i = 0
    while (i + n <= text.length) {
      set += hash64Range(text, i, i + n)
      i += 1
    }
    set.toArray
  }

  /** Sorted distinct FNV-64 hashes of the CODE-POINT n-gram windows —
    * the hashed twin of [[ngramJaccard]]'s shingle sets (same window
    * boundaries), precomputed once per document so LSH verify joins
    * can carry ~8 bytes/shingle instead of re-shingling text per
    * candidate pair. Sorted so the pair-side intersection is a merge,
    * not a hash probe.
    */
  def sortedShingleHashes(text: String, n: Int): Array[Long] = {
    val cps = text.codePointCount(0, text.length)
    if (cps < n) return Array.empty
    val set = new mutable.HashSet[Long]
    var start = 0
    var end = text.offsetByCodePoints(0, n)
    set += hash64Range(text, start, end)
    var i = 1
    while (i <= cps - n) {
      start = text.offsetByCodePoints(start, 1)
      end = text.offsetByCodePoints(end, 1)
      set += hash64Range(text, start, end)
      i += 1
    }
    val out = set.toArray
    java.util.Arrays.sort(out)
    out
  }

  /** Jaccard similarity of two sorted distinct hash arrays (merge
    * intersection — no allocation, no boxing). Exactly the distinct-
    * shingle Jaccard of [[ngramJaccard]] provided the 64-bit shingle
    * hashes are collision-free on the pair (probability ~|A||B|/2^64);
    * both-empty → 1.0, matching [[ngramJaccard]]'s convention.
    */
  def jaccardSorted(a: Array[Long], b: Array[Long]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Long.compare(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** 32-bit compaction of a sorted-distinct 64-bit hash array: fold
    * high into low bits, re-sort, dedupe. Halves the bytes a dedup
    * verify shuffle moves per shingle; collisions add ~|A||B|/2^32
    * (~2e-5 for 300-shingle docs) expected extra intersections per
    * pair — Jaccard error ~1e-7, far below any dedup threshold's
    * decision boundary.
    */
  def compactHashes32(hs: Array[Long]): Array[Int] = {
    val out = new Array[Int](hs.length)
    var i = 0
    while (i < hs.length) { out(i) = (hs(i) ^ (hs(i) >>> 32)).toInt; i += 1 }
    java.util.Arrays.sort(out)
    // in-place dedupe of the sorted array
    var w = 0
    i = 0
    while (i < out.length) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    if (w == out.length) out else java.util.Arrays.copyOf(out, w)
  }

  /** Int twin of [[jaccardSorted]]. */
  def jaccardSortedInt(a: Array[Int], b: Array[Int]): Double = {
    var i = 0; var j = 0; var inter = 0
    while (i < a.length && j < b.length) {
      val c = java.lang.Integer.compare(a(i), b(j))
      if (c == 0) { inter += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    val union = a.length + b.length - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** MinHash signature: numHashes independent minima over the shingle
    * set (hash family = splitmix64 of shingle-hash XOR per-row seed).
    * Empty shingle set → all Long.MaxValue.
    */
  def minhashSignature(shingles: Array[Long], numHashes: Int): Array[Long] = {
    val sig = Array.fill(numHashes)(Long.MaxValue)
    var i = 0
    while (i < shingles.length) {
      val h = shingles(i)
      var j = 0
      while (j < numHashes) {
        val v = mix64(h ^ (j.toLong * 0x9e3779b97f4a7c15L))
        if (java.lang.Long.compareUnsigned(v, sig(j)) < 0) sig(j) = v
        j += 1
      }
      i += 1
    }
    sig
  }

  /** 64-bit SimHash over token hashes (bit-majority vote). */
  def simhash64(tokens: Iterable[String]): Long = {
    val votes = new Array[Int](64)
    for (t <- tokens) {
      val h = hash64(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) != 0) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (votes(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hammingDistance(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** Winnowing document fingerprints (Schleimer et al. MOSS scheme):
    * rolling k-gram hashes, per-window-of-w minimum (rightmost on
    * ties), returned as a sorted distinct set. Robust to local edits —
    * two documents sharing a long run share fingerprints.
    */
  /** Per-DOCUMENT call counter over both winnowing families —
    * lightweight instrumentation (one atomic add per doc, noise next
    * to the per-gram digests) that lets LlmOpsSpec PIN the
    * evaluated-exactly-once contract of winnowSimilarityPairs'
    * fingerprint pass: its (id, fp) rows feed one exchange and one
    * consumer, and the spec asserts calls == docs. Per-JVM
    * (local-mode tests see the true total; on a cluster it is
    * per-executor).
    */
  private[graft] val winnowCalls = new java.util.concurrent.atomic.AtomicLong

  def winnowFingerprints(text: String, k: Int, w: Int): Array[Long] = {
    winnowCalls.incrementAndGet()
    if (text == null || text.length < k) return Array.empty
    val n = text.length - k + 1
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) { grams(i) = mix64(hash64(text.substring(i, i + k))); i += 1 }
    if (n <= w) return grams.distinct.sorted
    val out = new mutable.HashSet[Long]
    var win = 0
    while (win + w <= n) {
      var minIdx = win
      var j = win + 1
      while (j < win + w) {
        if (java.lang.Long.compareUnsigned(grams(j), grams(minIdx)) <= 0) minIdx = j
        j += 1
      }
      out += grams(minIdx)
      win += 1
    }
    out.toArray.sorted
  }

  /** The tokenizer whitespace set, spelled as an explicit character
    * class so Java regex (Spark side) and RE2 (DuckDB oracle side) are
    * identical BY CONSTRUCTION — Java's `\s` includes U+000B where
    * RE2's does not, so a bare `\s+` on both sides is only latently
    * equal. One definition, appended verbatim into both engines'
    * patterns. */
  val WsChars = " \\t\\n\\x0B\\f\\r"
  val Ws = s"[$WsChars]"
  val WsPlus: String = Ws + "+"

  /** Character-level twin of [[Ws]] for non-regex kernel loops. */
  def isWsChar(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** [[WsPlus]] split with empties dropped, as one compiled char
    * loop. r14 (guide §1.2 step 2): `String.split(regex)` recompiles
    * the pattern on EVERY call for multi-char regexes (the JDK
    * fast-path covers single-literal-char separators only), and this
    * split runs once per document per text operator across the whole
    * family — tokenize, shingle, window, n-gram, repetition. The loop
    * is bit-identical to `s.split(WsPlus).filter(_.nonEmpty)`
    * (spec-pinned on the adversarial edges): a leading run of
    * whitespace contributes no empty head token, interior runs
    * collapse to one delimiter, trailing runs drop.
    */
  def splitWsNonEmpty(s: String): Array[String] = {
    val n = s.length
    val out = new scala.collection.mutable.ArrayBuilder.ofRef[String]
    var i = 0
    while (i < n) {
      while (i < n && isWsChar(s.charAt(i))) i += 1
      val st = i
      while (i < n && !isWsChar(s.charAt(i))) i += 1
      if (i > st) out += s.substring(st, i)
    }
    out.result()
  }

  /** Whitespace tokens, lowercased. Locale.ROOT pins the lowering
    * locale-invariant (r15, ADVICE r14): under a Turkish/Azeri/
    * Lithuanian default JVM locale, default-locale toLowerCase maps
    * 'I' to dotless 'ı' and the kernel would diverge from the
    * locale-independent expression form (Spark's lower()) it is
    * spec-pinned against. ROOT and the expression form agree on every
    * input this engine's oracles exercise.
    */
  def tokens(text: String): Array[String] =
    splitWsNonEmpty(text.toLowerCase(java.util.Locale.ROOT))

  /** Excise 1-based token-index ranges from text, preserving original
    * token case and joining survivors with single spaces (excision
    * canonicalizes whitespace — the documented contract; callers
    * return the ORIGINAL text when no ranges hit a doc). Ranges must
    * be sorted and disjoint (the island-merge output). Tokenization
    * is the repo-wide WsPlus split, so indexes line up with the
    * lowercased fingerprint windows.
    */
  def exciseTokenRanges(text: String, ss: Array[Int], ee: Array[Int]): String = {
    if (text == null) return null
    if (ss == null || ss.isEmpty) return text
    val raw = splitWsNonEmpty(text)
    val sb = new java.lang.StringBuilder()
    var r = 0
    var i = 0
    while (i < raw.length) {
      val pos = i + 1
      while (r < ss.length && ee(r) < pos) r += 1
      val cut = r < ss.length && ss(r) <= pos && pos <= ee(r)
      if (!cut) {
        if (sb.length > 0) sb.append(' ')
        sb.append(raw(i))
      }
      i += 1
    }
    sb.toString
  }

  /** Distinct code-point n-gram substrings — kernel twin of the
    * `array_distinct(transform(sequence(...), i → substr(text, i, n)))`
    * column idiom (graft.ops.Dedup.shingles): Spark's substr indexes
    * CODE POINTS, so windows step one code point at a time.
    */
  def charShingles(text: String, n: Int): Array[String] = {
    if (text == null) return Array.empty
    val cps = text.codePoints().toArray
    if (cps.length < n) return Array.empty
    val out = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + n <= cps.length) { out.add(new String(cps, i, n)); i += 1 }
    out.toArray(new Array[String](out.size))
  }

  /** Kernel twin of the `conv(substring(md5(s), 1, 15), 16, 10)`
    * column idiom (graft.ops.Dedup.md5Hash60): the first 15 hex chars
    * of md5 as a 60-bit long — i.e. the first 8 digest bytes read
    * big-endian, shifted right 4 (dropping the 16th hex char).
    * Bit-for-bit equal (spec-pinned), so operators can move hot
    * signature loops out of interpreted HOF evaluation without
    * touching their DuckDB oracles.
    */
  def md5Hash60(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** Modulus of the Carter–Wegman minhash family: the Mersenne prime
    * 2³¹ − 1, chosen so `m1 + j·m2` never leaves a signed 64-bit range
    * (j ≤ numHashes, operands < 2³¹) — the overflow-free contract an
    * external SQL engine needs, since DuckDB BIGINT multiplication
    * ERRORS on wrap rather than wrapping.
    */
  val CwPrime: Long = 2147483647L

  /** Carter–Wegman minhash signature: sig_j = min over distinct
    * shingles s of h_j(s), where h_j(s) = (m1(s) + j·m2(s)) mod P and
    * (m1, m2) are the two md5-derived 60-bit halves of s reduced mod
    * P = [[CwPrime]]. ONE md5 per distinct shingle instead of
    * numHashes md5s (the r9 family, md5("j:" + s) per j, priced the
    * DuckDB oracle at numHashes × |shingles| md5+conv evaluations per
    * document — the measured reason l03/l40 sat on the sf0.1 sweep's
    * exclusion list; the CW re-derivation is 64 integer ops per
    * shingle after one md5, ~25× cheaper on the oracle side and
    * ~40× fewer digests here). The halves mirror the oracle's
    * `('0x' || substr(md5(s), 1, 15))` / `substr(md5(s), 16, 15)`
    * conv idiom exactly: hex chars 1–15 = first 8 digest bytes >>> 4;
    * hex chars 16–30 = digest bytes 7–14 masked to the low 60 bits.
    * Empty shingle set → all-MaxValue signature (same convention the
    * md5-per-j family had: min over an empty set stays MaxValue,
    * callers filter length < n docs out anyway).
    */
  def minhashCwSig(text: String, shingleN: Int, numHashes: Int): Array[Long] = {
    val shs = charShingles(text, shingleN)
    val m1s = new Array[Long](shs.length)
    val m2s = new Array[Long](shs.length)
    var i = 0
    while (i < shs.length) {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(shs(i).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var a = 0L
      var b = 0L
      var k = 0
      while (k < 8) { a = (a << 8) | (d(k) & 0xffL); k += 1 }
      k = 7
      while (k < 15) { b = (b << 8) | (d(k) & 0xffL); k += 1 }
      m1s(i) = (a >>> 4) % CwPrime
      m2s(i) = (b & 0x0FFFFFFFFFFFFFFFL) % CwPrime
      i += 1
    }
    Array.tabulate(numHashes) { j =>
      var m = Long.MaxValue
      var s = 0
      while (s < shs.length) {
        val h = (m1s(s) + j * m2s(s)) % CwPrime
        if (h < m) m = h
        s += 1
      }
      m
    }
  }

  /** Winnowing fingerprint COUNT on the md5 hash family — kernel twin
    * of the column formulation in Dedup.winnowFingerprintCountExact
    * (spec-pinned bit-for-bit against it): k-gram md5Hash60 values
    * over code-point windows, per-window-of-w minima, distinct count.
    * n ≤ 0 grams → 0; n ≤ w → distinct gram count; NULL text → null
    * (the column CASE's fall-through). Returns a boxed Long for the
    * null case.
    */
  def winnowMd5FingerprintCount(text: String, k: Int,
      w: Int): java.lang.Long = {
    if (text == null) return null
    java.lang.Long.valueOf(winnowMd5Fingerprints(text, k, w).length.toLong)
  }

  /** The winnowed fingerprint SET itself (distinct per-window k-gram
    * md5Hash60 minima, the [[winnowMd5FingerprintCount]] semantics
    * with the set materialized, sorted ascending for determinism) —
    * the MOSS document-similarity primitive (Schleimer et al. 2003):
    * two documents sharing ≥T winnowed fingerprints share ≥T
    * guaranteed-detected substrings of length ≥ k + w − 1. null →
    * empty.
    */
  def winnowMd5Fingerprints(text: String, k: Int, w: Int): Array[Long] = {
    winnowCalls.incrementAndGet() // one atomic add per DOC (not gram)
    if (text == null) return Array.empty
    val cps = text.codePoints().toArray
    val n = cps.length - (k - 1)
    if (n <= 0) return Array.empty
    val grams = new Array[Long](n)
    var i = 0
    while (i < n) { grams(i) = md5Hash60(new String(cps, i, k)); i += 1 }
    val set = new java.util.HashSet[java.lang.Long]()
    if (n <= w) {
      var g = 0
      while (g < n) { set.add(grams(g)); g += 1 }
    } else {
      var s = 0
      while (s + w <= n) {
        var m = Long.MaxValue
        var j = s
        while (j < s + w) { if (grams(j) < m) m = grams(j); j += 1 }
        set.add(m)
        s += 1
      }
    }
    val out = new Array[Long](set.size)
    val it = set.iterator()
    var o = 0
    while (it.hasNext) { out(o) = it.next(); o += 1 }
    java.util.Arrays.sort(out)
    out
  }

  /** Stride-1 sliding L-token window fingerprints — one hash per
    * window start over the space-joined lowercased window tokens. The
    * exact-substring dedup primitive (Lee et al., "Deduplicating
    * Training Data Makes Language Models Better"): a token position
    * lies inside a duplicated span of length ≥ L iff at least one
    * L-window covering it occurs ≥ 2 times in the corpus, so the union
    * of repeated windows recovers the duplicated spans EXACTLY (at
    * fingerprint-collision probability, shared with the oracle since
    * both derive the same md5 prefix). `exact` picks md5Hash60 (the
    * engine-neutral oracle family, = first 15 md5 hex chars as BIGINT)
    * vs FNV hash64 (the cheaper production default, x13's path).
    * null / shorter-than-L texts → empty.
    */
  def slidingWindowHashes(text: String, l: Int,
      exact: Boolean): Array[Long] = {
    if (text == null) return Array.empty
    val ts = tokens(text)
    val n = ts.length - (l - 1)
    if (n <= 0) return Array.empty
    val out = new Array[Long](n)
    // r15: hash the window INCREMENTALLY over the token array instead
    // of materializing the space-joined window string — one String
    // alloc+copy per window removed from every window of every doc
    // (this kernel runs inside x06/x13/x15/decontamination's hottest
    // map stages). Bit-identical by construction: FNV-1a folds the
    // same UTF-16 char sequence (space = one char), md5 digests the
    // same UTF-8 byte sequence (UTF-8 of a concatenation is the
    // concatenation of UTF-8s; space = 0x20) — and spec-pinned against
    // the joined-string forms on randomized token sets.
    if (!exact) {
      var i = 0
      while (i < n) {
        var h = 0xcbf29ce484222325L
        var j = i
        while (j < i + l) {
          if (j > i) { h ^= 0x20L; h *= 0x100000001b3L }
          val t = ts(j)
          var c = 0
          while (c < t.length) {
            h ^= t.charAt(c).toLong; h *= 0x100000001b3L; c += 1
          }
          j += 1
        }
        out(i) = h
        i += 1
      }
    } else {
      val md = java.security.MessageDigest.getInstance("MD5")
      val bs = new Array[Array[Byte]](ts.length)
      var k = 0
      while (k < ts.length) {
        bs(k) = ts(k).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        k += 1
      }
      val sp = Array(' '.toByte)
      var i = 0
      while (i < n) {
        md.reset()
        var j = i
        while (j < i + l) {
          if (j > i) md.update(sp)
          md.update(bs(j)); j += 1
        }
        val d = md.digest()
        var v = 0L
        var q = 0
        while (q < 8) { v = (v << 8) | (d(q) & 0xffL); q += 1 }
        out(i) = v >>> 4
        i += 1
      }
    }
    out
  }

  /** Fused span-excision against a SORTED fingerprint set — the
    * one-pass kernel form of Decontaminate.decontaminateExcise's
    * window → membership → island-merge → excise chain (r15, guide
    * §2.4 "remove shuffles outright" / §8 "decide with small rows"):
    * when the benchmark fingerprint set fits on the driver, the whole
    * decision is per-document-local, so a single map pass replaces the
    * posexplode + membership join + window island-merge + text-side
    * join. Windows are [[slidingWindowHashes]] (1-based token start
    * `s = i + 1`, end `s + l − 1`); merged exactly like
    * CorpusStats.mergeTokenSpans (islands break when
    * `s > prev_end + 1`, so touching/adjacent spans coalesce — window
    * starts ascend, so the running max of ends is the last end);
    * excision is [[exciseTokenRanges]] verbatim. Membership is binary
    * search over the sorted `fps` array (exact, no false positives).
    *
    * Returns (n_spans, n_removed_tokens, cleaned_text); docs with no
    * hits return the ORIGINAL text object untouched, null text stays
    * null — the exact contract of the join formulation (spec-pinned
    * against it on randomized corpora in DecontaminateSpec).
    */
  def exciseByFpSet(text: String, l: Int, exact: Boolean,
      fps: Array[Long]): (Long, Long, String) = {
    if (text == null) return (0L, 0L, null)
    val hs = slidingWindowHashes(text, l, exact)
    var curS = 0
    var curE = -1 // -1 = no open island
    val ss = new mutable.ArrayBuilder.ofInt
    val ee = new mutable.ArrayBuilder.ofInt
    var nSpans = 0L
    var removed = 0L
    def close(): Unit = {
      ss += curS; ee += curE
      nSpans += 1
      removed += curE - curS + 1
    }
    var i = 0
    while (i < hs.length) {
      if (java.util.Arrays.binarySearch(fps, hs(i)) >= 0) {
        val s = i + 1
        val e = i + l
        if (curE < 0) { curS = s; curE = e }
        else if (s <= curE + 1) { curE = e } // window ends ascend
        else { close(); curS = s; curE = e }
      }
      i += 1
    }
    if (curE >= 0) close()
    if (nSpans == 0L) (0L, 0L, text)
    else (nSpans, removed, exciseTokenRanges(text, ss.result(), ee.result()))
  }

  /** 60-bit md5-family SimHash as one Long — the kernel twin of the
    * interpreted column formulation in Dedup.simhashPairsExact's
    * original shape (and bit-for-bit equal to it, so the DuckDB
    * re-derivation oracle is unchanged): bit j is the majority vote
    * over all tokens (with multiplicity) of bit (j%4) of hex digit
    * (15 − j/4) (1-based) of md5(token); ties (sum ≤ 0) vote 0. The
    * interpreted HOF form evaluated 60 `conv` extractions per token at
    * ~7 µs each — ≥16 minutes single-threaded over a 5k-doc sweep
    * slice; this loop reads the digest bytes directly. NULL/empty
    * text → signature 0 (both formulations agree).
    */
  def md5Simhash60(text: String): Long = {
    val votes = new Array[Int](60)
    if (text != null) {
      val md = java.security.MessageDigest.getInstance("MD5")
      for (t <- tokens(text)) {
        val digest = md.digest(t.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        md.reset()
        var j = 0
        while (j < 60) {
          // 0-based hex char c = 14 − j/4; char 2i is the high nibble
          // of digest byte i, char 2i+1 the low nibble
          val c = 14 - j / 4
          val nib =
            if (c % 2 == 0) (digest(c / 2) >> 4) & 0xf
            else digest(c / 2) & 0xf
          votes(j) += (((nib >> (j % 4)) & 1) << 1) - 1
          j += 1
        }
      }
    }
    var sig = 0L
    var j = 0
    while (j < 60) { if (votes(j) > 0) sig |= 1L << j; j += 1 }
    sig
  }

  private val stopwordProfiles: Map[String, Set[String]] = Map(
    "en" -> Set("the", "and", "of", "to", "in", "is", "that", "it", "was", "for", "a", "with"),
    "es" -> Set("el", "la", "de", "que", "y", "en", "un", "los", "se", "del", "las", "por"),
    "de" -> Set("der", "die", "und", "das", "von", "zu", "mit", "den", "ist", "im", "ein", "nicht"),
    "fr" -> Set("le", "la", "de", "et", "les", "des", "en", "un", "du", "que", "est", "pour"))

  /** n-gram/stopword language-ID heuristic. CJK-dominant text → "zh";
    * otherwise the profile with the highest stopword hit-count wins
    * (ties broken lexicographically); no hits → "und".
    */
  def langId(text: String): String = {
    if (text.isEmpty) return "und"
    var cjk = 0
    var total = 0
    for (c <- text) {
      if (!isWsChar(c)) { // explicit set, == the oracle's regex class
        total += 1
        if (Character.UnicodeScript.of(c) == Character.UnicodeScript.HAN) cjk += 1
      }
    }
    if (total > 0 && cjk * 10 >= total * 3) return "zh"
    val toks = tokens(text)
    val scores = stopwordProfiles.view
      .mapValues(profile => toks.count(profile.contains)).toMap
    val best = scores.toSeq.sortBy { case (lang, score) => (-score, lang) }.head
    if (best._2 == 0) "und" else best._1
  }

  /** Exact character-n-gram Jaccard similarity — the kernel behind
    * Dedup.ngramJaccard's verify step. Distinct n-gram windows are
    * counted over CODE POINTS (matching Spark's length()/substr() and
    * DuckDB's substr(), which are code-point based, not UTF-16);
    * integer counts then one double division keeps IEEE equality with
    * the list-function oracles. For docs shorter than n the shingle
    * set is empty and empty∪empty is DEFINED as 1.0 (two too-short
    * docs have identical shingle sets); the DuckDB oracles make the
    * same choice explicit via a CASE (LlmPipeline.duckJaccard) — note
    * this differs from the pre-kernel column formulation, whose
    * sequence(1,0) artifact scored two distinct short docs 0.0.
    */
  def ngramJaccard(a: String, b: String, n: Int): Double = {
    def grams(s: String): java.util.HashSet[String] = {
      val set = new java.util.HashSet[String]()
      val cps = s.codePointCount(0, s.length)
      if (cps >= n) {
        var start = 0
        var end = s.offsetByCodePoints(0, n)
        set.add(s.substring(start, end))
        var i = 1
        while (i <= cps - n) {
          start = s.offsetByCodePoints(start, 1)
          end = s.offsetByCodePoints(end, 1)
          set.add(s.substring(start, end))
          i += 1
        }
      }
      set
    }
    val sa = grams(a)
    val sb = grams(b)
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Distinct word-level n-grams, lowercased, space-joined — the
    * fingerprint unit for benchmark decontamination (the GPT-3 /
    * Pile-style n-gram-overlap check; published convention is
    * 8–13-gram word windows). Tokens = [[tokens]] (the shared
    * WsChars whitespace class, so the DuckDB oracle can re-derive
    * every gram with `string_split_regex`). Docs with fewer than n
    * tokens produce NO grams — a document too short to contain one
    * full window cannot leak one (documented convention; callers
    * wanting short-prompt coverage pass a smaller n).
    */
  def wordNgrams(text: String, n: Int): Array[String] = {
    val ts = tokens(text)
    if (ts.length < n) return Array.empty
    val set = new java.util.LinkedHashSet[String]()
    val sb = new java.lang.StringBuilder
    var i = 0
    while (i + n <= ts.length) {
      sb.setLength(0)
      var j = i
      while (j < i + n) {
        if (j > i) sb.append(' ')
        sb.append(ts(j))
        j += 1
      }
      set.add(sb.toString)
      i += 1
    }
    val out = new Array[String](set.size)
    set.toArray(out)
    out
  }

  /** Repetition signals in one pass (Gopher A1.1 on word n-grams):
    * (n_words, top-bigram ratio, top-trigram ratio, dup-5-gram ratio).
    * Words = whitespace-split non-empty tokens (same set as Spark's
    * `filter(split(text, WsPlus), len > 0)`); n-grams are space-joined
    * windows. One HashMap count per gram size — ~60× faster than the
    * interpreted higher-order-function formulation this replaced
    * (measured 6 ms/doc → 0.1 ms/doc at sf0.1), which matters because
    * this runs over every document of a corpus.
    */
  def repetitionStats(text: String): (Long, Double, Double, Double) = {
    val words = splitWsNonEmpty(text)
    def topRatio(n: Int): Double = {
      val total = words.length - n + 1
      if (total <= 0) return 0.0
      val counts = new java.util.HashMap[String, Int]()
      var max = 0
      var i = 0
      while (i < total) {
        val sb = new java.lang.StringBuilder(words(i))
        var j = 1
        while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
        val c = counts.merge(sb.toString, 1, Integer.sum)
        if (c > max) max = c
        i += 1
      }
      max.toDouble / total
    }
    def dupRatio(n: Int): Double = {
      val total = words.length - n + 1
      if (total <= 0) return 0.0
      val seen = new java.util.HashSet[String]()
      var i = 0
      while (i < total) {
        val sb = new java.lang.StringBuilder(words(i))
        var j = 1
        while (j < n) { sb.append(' ').append(words(i + j)); j += 1 }
        seen.add(sb.toString)
        i += 1
      }
      1.0 - seen.size.toDouble / total
    }
    (words.length.toLong, topRatio(2), topRatio(3), dupRatio(5))
  }
}
