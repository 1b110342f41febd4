package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Vector and text kernels invoked from codegen via `StaticInvoke` — one
  * fused pass per row where the equivalent higher-order-function algebra
  * (`zip_with` + `aggregate` lambdas) is interpreted per element and
  * allocates an intermediate array per call.
  *
  * Numerics are bit-identical to the sequential-fold SQL formulation the
  * oracles use: double accumulation in array order, norms via sqrt of the
  * same fold — so swapping these in changes nothing the comparator sees.
  */
object GraftVector {

  /** Dot product of two float vectors (double accumulation, array order). */
  def dot(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0
    var i = 0
    while (i < n) {
      s += a.getFloat(i).toDouble * b.getFloat(i).toDouble
      i += 1
    }
    s
  }

  def norm(a: ArrayData): Double = {
    val n = a.numElements()
    var s = 0.0
    var i = 0
    while (i < n) {
      val v = a.getFloat(i).toDouble
      s += v * v
      i += 1
    }
    math.sqrt(s)
  }

  /** Cosine similarity: dot(a,b) / (|a| * |b|), all three folds in one
    * pass over the pair. A zero-norm side yields 0.0 (no similarity
    * signal), NOT the IEEE 0/0 NaN — Spark sorts NaN above every real
    * number, so a NaN would put zero vectors ahead of genuine matches
    * in every top-k ranking. */
  def cosine(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      val x = a.getFloat(i).toDouble
      val y = b.getFloat(i).toDouble
      sab += x * y; saa += x * x; sbb += y * y
      i += 1
    }
    if (saa == 0.0 || sbb == 0.0) 0.0
    else sab / (math.sqrt(saa) * math.sqrt(sbb))
  }

  /** DuckDB-exact `round(x, d)`: C++ `std::round(x * 10^d) / 10^d` —
    * half-away-from-zero on the SCALED value. Spark's `round` applies
    * HALF_UP to the BigDecimal expansion of the unscaled double, which
    * disagrees near scaled-tie boundaries (e.g. cosine 0.3209955 where
    * x*1e6 = 320995.4999…: DuckDB → 0.320995, Spark → 0.320996). The
    * tie test compares the fractional part against 0.5 exactly rather
    * than adding 0.5 first, matching std::round on doubles like
    * 0.49999999999999994 where `floor(x+0.5)` would round up. */
  def duckRound(x: Double, d: Int): Double = {
    val p = math.pow(10, d)
    val scaled = x * p
    if (scaled.isNaN || scaled.isInfinite) return x
    val r =
      if (scaled >= 0) {
        val fl = math.floor(scaled)
        if (scaled - fl >= 0.5) fl + 1 else fl
      } else {
        val ce = math.ceil(scaled)
        if (ce - scaled >= 0.5) ce - 1 else ce
      }
    r / p
  }

  /** LSH band hashes of a minhash signature: xxHash64 of each of the b
    * r-long bands, one pass (the `transform(sequence, xxhash64(slice))`
    * formulation re-slices the signature per band, interpreted). */
  def lshBandHashes(sig: ArrayData, b: Int, r: Int): ArrayData = {
    val out = new Array[Long](b)
    val buf = new Array[Byte](r * 8)
    var j = 0
    while (j < b) {
      var i = 0
      while (i < r) {
        val v = sig.getLong(j * r + i)
        var byte = 0
        while (byte < 8) {
          buf(i * 8 + byte) = ((v >>> (byte * 8)) & 0xFF).toByte
          byte += 1
        }
        i += 1
      }
      out(j) = org.apache.spark.sql.catalyst.expressions.XXH64
        .hashUnsafeBytes(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          buf.length, 42L)
      j += 1
    }
    new GenericArrayData(out)
  }

  /** IVF probe: cosine of `vec` against every centroid in the flattened
    * row-major centroid matrix (nlist = cents.length / vec.length), then
    * the indices of the `nprobe` nearest centroids, best first. One fused
    * pass, centroid matrix arrives as a broadcast literal — assignment is
    * map-only with zero shuffle at any corpus size. */
  def ivfProbe(vec: ArrayData, cents: ArrayData, nprobe: Int): ArrayData = {
    val d = vec.numElements()
    val nlist = if (d == 0) 0 else cents.numElements() / d
    val v = new Array[Double](d)
    var vn = 0.0
    var i = 0
    while (i < d) {
      v(i) = vec.getFloat(i).toDouble; vn += v(i) * v(i); i += 1
    }
    val scores = new Array[Double](nlist)
    var c = 0
    while (c < nlist) {
      var dot = 0.0; var cn = 0.0
      var j = 0
      while (j < d) {
        val x = cents.getFloat(c * d + j).toDouble
        dot += v(j) * x; cn += x * x; j += 1
      }
      scores(c) = if (cn == 0 || vn == 0) -2.0
                  else dot / (math.sqrt(vn) * math.sqrt(cn))
      c += 1
    }
    val n = math.min(nprobe, nlist)
    val out = new Array[Int](n)
    val taken = new Array[Boolean](nlist)
    var s = 0
    while (s < n) {
      var best = -1; var bestScore = -3.0
      var k = 0
      while (k < nlist) {
        if (!taken(k) && scores(k) > bestScore) {
          best = k; bestScore = scores(k)
        }
        k += 1
      }
      taken(best) = true; out(s) = best; s += 1
    }
    new GenericArrayData(out)
  }

  /** Symmetric int8 quantization: each element maps to
    * round(x · 127 / max|x|), the standard storage/bandwidth compression
    * for embedding corpora (4× smaller than float32, int-SIMD dot). The
    * per-vector scale factor is NOT materialized: scales cancel in
    * cosine, so quantized cosine needs no side table. All-zero input
    * (no scale) quantizes to all zeros.
    *
    * NaN policy: a NaN element quantizes to 0 (NaN fails the `v > m`
    * max scan, and the clamped `NaN.toByte` is 0), while the exact
    * float cosine used for re-scoring propagates NaN — so a NaN-bearing
    * vector can rank differently in the int8 prefilter than in the
    * rerank. This is deliberate: the prefilter contract is only "the
    * true top-k survives the candidate window" for FINITE vectors;
    * corpora with NaN embeddings must be cleaned upstream (a NaN cosine
    * is meaningless in any ANN formulation). */
  def quantize8(a: ArrayData): ArrayData = {
    val n = a.numElements()
    var m = 0.0
    var i = 0
    while (i < n) {
      val v = math.abs(a.getFloat(i).toDouble)
      if (v > m) m = v
      i += 1
    }
    val out = new Array[Byte](n)
    if (m > 0.0) {
      i = 0
      while (i < n) {
        val q = math.rint(a.getFloat(i).toDouble * 127.0 / m)
        out(i) = math.max(-127.0, math.min(127.0, q)).toByte
        i += 1
      }
    }
    new GenericArrayData(out)
  }

  /** Cosine over two int8-quantized vectors — pure integer accumulation
    * (the SIMD-able inner loop), one fused pass. Approximates the float
    * cosine to ~1e-2 worst-case (per-element error ≤ 1/254 of max|x|);
    * used as a candidate PREFILTER whose survivors are re-scored with
    * exact float cosine, never as the final score. Zero-norm policy
    * matches [[cosine]] (0.0, not NaN). */
  def cosineQ8(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var sab = 0L; var saa = 0L; var sbb = 0L
    var i = 0
    while (i < n) {
      val x = a.getByte(i).toLong
      val y = b.getByte(i).toLong
      sab += x * y; saa += x * x; sbb += y * y
      i += 1
    }
    if (saa == 0L || sbb == 0L) 0.0
    else sab.toDouble / (math.sqrt(saa.toDouble) * math.sqrt(sbb.toDouble))
  }

  private val ws = "\\s+".r.pattern

  /** Distinct word n-gram shingles in one pass: trim → whitespace split →
    * join each n-window with spaces → distinct preserving first occurrence.
    * Tail windows clamp (shorter than n); minimum one shingle — identical
    * to the `transform(sequence(...), slice ...)` SQL formulation (and the
    * DuckDB list-lambda oracle) including the empty-string token a blank
    * document yields. */
  /** All character n-grams in position order (non-distinct) — the fused
    * form of `transform(sequence(1, len-n+1), i -> substring(text, i,
    * n))`, which as a higher-order function never enters whole-stage
    * codegen. Positions are SQL-substring semantics (code points, like
    * Spark's `substring`), so the DuckDB oracle's `substring` agrees. */
  def charNgramsAll(text: UTF8String, n: Int): ArrayData = {
    val len = text.numChars()
    val last = math.max(len - (n - 1), 1)
    val out = new Array[AnyRef](last)
    var i = 0
    while (i < last) {
      out(i) = text.substringSQL(i + 1, n)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Non-distinct sibling of [[wordShingles]]: every n-gram occurrence,
    * in position order — the shape corpus-level occurrence counting
    * (q151's duplicated-n-gram fraction) needs, where a repeated gram
    * must count once per position. Same single-pass fused loop, minus
    * the dedup set. */
  def wordShinglesAll(text: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(text.toString.trim, -1)
    val last = math.max(toks.length - (n - 1), 1)
    val out = new Array[AnyRef](last)
    var i = 0
    while (i < last) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      out(i) = UTF8String.fromString(sb.toString)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Fused content normalization: lowercase (the SAME UTF8String
    * lowercasing Spark's `lower` uses, so unicode parity is inherited),
    * strip every char outside `[a-z0-9 ]`, collapse space runs, and
    * optionally truncate to the first `n` normalized chars (`n < 0` for
    * no truncation) — one byte-level pass replacing the chained
    * `regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ''),
    * ' +', ' ')`, which costs two full regex walks plus per-call buffer
    * churn (~20× the md5 that follows it, measured at sf1). The
    * survivors are all ASCII, so the scan works on UTF-8 bytes
    * directly: multibyte sequences are ≥ 0x80 per byte and can never
    * false-match the class. */
  def normPrefix(text: UTF8String, n: Int): UTF8String = {
    val lower = text.toLowerCase
    val bytes = lower.getBytes
    val out = new Array[Byte](bytes.length)
    var k = 0
    var i = 0
    val limit = if (n < 0) Int.MaxValue else n
    while (i < bytes.length && k < limit) {
      val b = bytes(i)
      if ((b >= 'a' && b <= 'z') || (b >= '0' && b <= '9')) {
        out(k) = b; k += 1
      } else if (b == ' ' && (k == 0 || out(k - 1) != ' ')) {
        // collapse runs: a space is emitted only when the previous
        // SURVIVING char isn't one — identical to stripping first and
        // then replacing ' +' with ' ' (leading/trailing spaces survive
        // as single spaces, exactly as the regex pair leaves them)
        out(k) = b; k += 1
      }
      i += 1
    }
    UTF8String.fromBytes(java.util.Arrays.copyOf(out, k))
  }

  def wordShingles(text: UTF8String, n: Int): ArrayData = {
    val toks = ws.split(text.toString.trim, -1)
    val last = math.max(toks.length - (n - 1), 1)
    val seen = new java.util.LinkedHashSet[String](last * 2)
    var i = 0
    while (i < last) {
      val end = math.min(i + n, toks.length)
      val sb = new java.lang.StringBuilder
      var j = i
      while (j < end) {
        if (j > i) sb.append(' ')
        sb.append(toks(j))
        j += 1
      }
      seen.add(sb.toString)
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = UTF8String.fromString(it.next()); k += 1 }
    new GenericArrayData(out)
  }

  /** 48-bit fingerprint of every n-word window of `words`, in start
    * order: the first 6 bytes (big-endian) of the md5 of the window's
    * words joined by single spaces (UTF-8) — the value of the SQL
    * `CAST(conv(substring(md5(array_join(slice(words, i, n), ' ')), 1,
    * 12), 16, 10) AS BIGINT)`, which DuckDB computes identically, in one
    * pass with no per-window string. Null words are skipped, as
    * `array_join` skips them; an array shorter than n has no window. */
  def wordWindowFps(words: ArrayData, n: Int): ArrayData = {
    val len = words.numElements()
    val out = new Array[Long](math.max(len - n + 1, 0))
    val bytes = Array.tabulate(len)(i =>
      if (words.isNullAt(i)) null else words.getUTF8String(i).getBytes)
    val md = java.security.MessageDigest.getInstance("MD5")
    val digest = new Array[Byte](16)
    var i = 0
    while (i < out.length) {
      var first = true
      var j = i
      while (j < i + n) {
        if (bytes(j) != null) {
          if (!first) md.update(' '.toByte)
          md.update(bytes(j))
          first = false
        }
        j += 1
      }
      md.digest(digest, 0, 16)
      var fp = 0L
      var b = 0
      while (b < 6) { fp = (fp << 8) | (digest(b) & 0xFFL); b += 1 }
      out(i) = fp
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }

  private val space = UTF8String.fromString(" ")

  /** One document's exact-substring rollup. `dupStarts` holds the
    * 1-based starts of the document's duplicated n-word windows, in any
    * order (null: none). Word p is removed iff a duplicated start lies in
    * [p-n+1, p]; a span is a maximal run of removed words. Returns
    * (n_tokens, n_removed, n_spans, kept_text), the kept words joined by
    * single spaces — one pass over the words, whatever the span count. */
  def spanRollup(words: ArrayData, dupStarts: ArrayData, n: Int)
      : InternalRow = {
    val len = words.numElements()
    val starts =
      if (dupStarts == null) Array.emptyIntArray else dupStarts.toIntArray()
    java.util.Arrays.sort(starts)
    val kept = new Array[UTF8String](len) // null = removed (concatWs skips)
    var removed = 0L
    var spans = 0L
    var next = 0 // first start not yet passed
    var latest = Int.MinValue // latest duplicated start at or before p
    var prevCovered = false
    var i = 0
    while (i < len) {
      val p = i + 1
      while (next < starts.length && starts(next) <= p) {
        latest = starts(next); next += 1
      }
      val covered = latest >= p - n + 1
      if (covered) {
        removed += 1
        if (!prevCovered) spans += 1
      } else if (!words.isNullAt(i)) kept(i) = words.getUTF8String(i)
      prevCovered = covered
      i += 1
    }
    new GenericInternalRow(Array[Any](len.toLong, removed, spans,
      UTF8String.concatWs(space, kept: _*)))
  }
}
