package graft

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/**
 * Tight JVM loops behind the column functions in
 * `org.apache.spark.sql.graft.GraftColumns`. Each method is called once per
 * row from whole-stage-generated code (objects get static forwarders, so
 * generated Java can call `graft.Kernels.minHashSig(...)` directly) —
 * replacing the interpreted higher-order-function folds that dominated the
 * round-2 bench (one boxed lambda dispatch per array element per seed).
 * A stateless method (Catalyst-typed inputs plus `Int` / `Boolean`
 * constants) is reached through Spark's `StaticInvoke`, which finds it by
 * name and argument classes at run time, so renaming one or changing its
 * parameter types breaks only at run time (GraftColumnsSpec runs each);
 * methods taking precomputed state (maps, arrays, a clock) are called from
 * the custom expressions in `GraftExpressions.scala`.
 *
 * Hash family: Spark's own XXH64 (`xxhash64` uses seed 42 over the value
 * bytes), so `tokenHash` below is bit-identical to `F.xxhash64(stringCol)`.
 */
object Kernels {

  /** Sentinel for "row falls outside every interval" (interval bucketing). */
  final val NoBucket: Long = Long.MinValue

  /** Bit-identical to Spark's `xxhash64(string)` (seed 42 over UTF8 bytes). */
  def tokenHash(s: org.apache.spark.unsafe.types.UTF8String): Long =
    if (s == null) 42L
    else XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)

  /**
   * Sorted distinct 64-bit fingerprints of the word k-shingles of a token
   * array. Each token is hashed once; a shingle's fingerprint is the
   * hashLong-chain over its k token hashes — no intermediate strings are
   * built (the reference materializes joined shingle strings; at ~n shingles
   * x k tokens per row that allocation was the single hottest path in the
   * round-2 profile). If the row has fewer than k tokens it yields one
   * shingle covering all of them, mirroring `Dedup.shingles`.
   */
  def hashedShingles(tokens: ArrayData, k: Int): ArrayData = {
    val n = tokens.numElements()
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenHash(tokens.getUTF8String(i)); i += 1 }
    val m = math.max(n - k + 1, 1)
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 42L
      var j = i
      val e = math.min(i + k, n)
      while (j < e) { h = XXH64.hashLong(th(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /**
   * MinHash signature over pre-hashed shingles: `numHashes` running minima
   * of h_i(x) = XXH64.hashLong(x, seed = i) in one pass — numHashes * |hs|
   * primitive hash+compare ops per row, no allocation beyond the result.
   */
  def minHashSig(hs: ArrayData, numHashes: Int): ArrayData = {
    val res = new Array[Long](numHashes)
    java.util.Arrays.fill(res, Long.MaxValue)
    val n = hs.numElements()
    var j = 0
    while (j < n) {
      val h = hs.getLong(j)
      var i = 0
      while (i < numHashes) {
        val v = XXH64.hashLong(h, i.toLong)
        if (v < res(i)) res(i) = v
        i += 1
      }
      j += 1
    }
    new GenericArrayData(res)
  }

  /** |A ∩ B| of two ascending-sorted distinct long arrays by merge walk. */
  def sortedIntersectSize(a: ArrayData, b: ArrayData): Int = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var c = 0
    while (i < na && j < nb) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { c += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    c
  }

  /**
   * 64-bit fingerprints of ALL word n-grams of a token array, as a
   * hash-chain over the token hashes — no n-gram strings are ever built
   * (the string form costs one sub-array + string allocation per position;
   * this is one `hashLong` chain). No partial n-grams: rows with fewer
   * than `n` tokens yield an empty array (unlike [[hashedShingles]], which
   * keeps one covering shingle for Dedup parity). `distinct = true` sorts
   * and dedups — the set form for overlap joins; `false` preserves
   * occurrence multiplicity — the multiset form for repetition counts.
   */
  /**
   * [[ngramHashes]] (multiset form) fused with per-position n-gram char
   * lengths: one `(hash, chars)` struct per position, where chars = the
   * window's token code-point lengths + n-1 joining spaces (= the length
   * of the space-joined n-gram string, never built). Replaces the
   * interpreted transform/aggregate/zip_with column chain that computed
   * the lengths at ~O(n·tokens) lambda dispatches per row.
   */
  def ngramHashLens(tokens: ArrayData, n: Int): ArrayData = {
    val cnt = tokens.numElements()
    val m = cnt - n + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val th = new Array[Long](cnt)
    val ps = new Array[Int](cnt + 1) // token-length prefix sums
    var i = 0
    while (i < cnt) {
      val u = tokens.getUTF8String(i)
      th(i) = tokenHash(u)
      ps(i + 1) = ps(i) + u.numChars()
      i += 1
    }
    val out = new Array[Any](m)
    i = 0
    while (i < m) {
      var h = 42L
      var j = i
      val e = i + n
      while (j < e) { h = XXH64.hashLong(th(j), h); j += 1 }
      out(i) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](h, ps(i + n) - ps(i) + (n - 1)))
      i += 1
    }
    new GenericArrayData(out)
  }

  def ngramHashes(tokens: ArrayData, n: Int, distinct: Boolean): ArrayData = {
    val cnt = tokens.numElements()
    val m = cnt - n + 1
    if (m <= 0) return new GenericArrayData(Array.emptyLongArray)
    val th = new Array[Long](cnt)
    var i = 0
    while (i < cnt) { th(i) = tokenHash(tokens.getUTF8String(i)); i += 1 }
    val out = new Array[Long](m)
    i = 0
    while (i < m) {
      var h = 42L
      var j = i
      val e = i + n
      while (j < e) { h = XXH64.hashLong(th(j), h); j += 1 }
      out(i) = h
      i += 1
    }
    if (!distinct) return new GenericArrayData(out)
    java.util.Arrays.sort(out)
    var w = 0
    i = 0
    while (i < m) {
      if (w == 0 || out(i) != out(w - 1)) { out(w) = out(i); w += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, w))
  }

  /**
   * 64-bit SimHash of a token array: bit b of the sketch is the majority
   * vote of bit b across the tokens' xxhash64 values. Token hashing matches
   * `F.xxhash64(token)` bit-for-bit, and the bit packing matches the
   * round-2 expression form (first vote lands in the top bit), so sketches
   * are stable across the rewrite.
   */
  def simHash64(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val counts = new Array[Int](64)
    var i = 0
    while (i < n) {
      val h = tokenHash(tokens.getUTF8String(i))
      var b = 0
      while (b < 64) { counts(b) += ((h >>> b) & 1L).toInt; b += 1 }
      i += 1
    }
    var sk = 0L
    var b = 0
    while (b < 64) { sk = (sk << 1) | (if (counts(b) * 2 > n) 1L else 0L); b += 1 }
    sk
  }

  /** 32-bit avalanche finisher (xorshift-multiply): the same bounded
    * arithmetic the portable SQL oracle evaluates, so cross-engine results
    * are bit-identical without wrap-around semantics. */
  private def mix32(v0: Long): Long = {
    var x = v0 & 0xFFFFFFFFL
    x = ((x ^ (x >>> 16)) * 0x45d9f3bL) & 0xFFFFFFFFL
    x = ((x ^ (x >>> 16)) * 0x45d9f3bL) & 0xFFFFFFFFL
    x ^ (x >>> 16)
  }

  /**
   * Portable two-lane SimHash: like [[simHash64]], but the per-token hash
   * is two decorrelated 32-bit lanes — a codepoint polynomial fold
   * (mod 2^32) through the [[mix32]] avalanche finisher — instead of
   * xxhash64. Every intermediate stays below 2^53, so the identical
   * expression is computable in plain SQL integer arithmetic (the DuckDB
   * oracle recomputes it exactly); xxhash64's 64-bit wrapping arithmetic is
   * not. Result: top 32 bits = lane-1 majority votes (bit j of the half =
   * vote of bit j), low 32 bits = lane-2 votes. Prefer [[simHash64]] when
   * cross-engine reproducibility is not needed.
   */
  def simHashPortable(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    val c1 = new Array[Int](32)
    val c2 = new Array[Int](32)
    var i = 0
    while (i < n) {
      val s = tokens.getUTF8String(i)
      val str = if (s == null) "" else s.toString
      var h1 = 2166136261L
      var h2 = 40503L
      var ci = 0
      while (ci < str.length) {
        val cp = str.codePointAt(ci)
        h1 = (h1 * 1000003L + cp) & 0xFFFFFFFFL
        h2 = (h2 * 69069L + cp) & 0xFFFFFFFFL
        ci += Character.charCount(cp)
      }
      val f1 = mix32(h1)
      val f2 = mix32(h2)
      var b = 0
      while (b < 32) {
        c1(b) += ((f1 >>> b) & 1L).toInt
        c2(b) += ((f2 >>> b) & 1L).toInt
        b += 1
      }
      i += 1
    }
    var hi = 0L
    var lo = 0L
    var b = 0
    while (b < 32) {
      if (c1(b) * 2 > n) hi |= (1L << b)
      if (c2(b) * 2 > n) lo |= (1L << b)
      b += 1
    }
    (hi << 32) | lo
  }

  /** Σ aᵢ·bᵢ in double precision, sequential accumulation — bit-identical
    * to the `zip_with`+`aggregate` fold it replaces. Null on length
    * mismatch or any null element (the fold propagated null there too). */
  def dotD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    java.lang.Double.valueOf(s)
  }

  /** All LSH band values of a vector in one monomorphic pass: plane `t`
    * (flat row-major, `planes.length / dim` planes) contributes sign bit
    * `t % rowsPerBand` of band `t / rowsPerBand`. Each plane's dot product
    * is the same sequential fold as [[dotD]] (bit-identical to the oracle's
    * `list_dot_product`). One call replaces a `bands × rowsPerBand` tree of
    * dot-product expressions that fell out of codegen and evaluated ~50×
    * slower row-by-row. */
  def lshBands(v: ArrayData, planes: Array[Double], dim: Int,
               rowsPerBand: Int): ArrayData = {
    val nPlanes = planes.length / dim
    val out = new Array[Long](nPlanes / rowsPerBand)
    var t = 0
    while (t < nPlanes) {
      val off = t * dim
      var s = 0.0
      var j = 0
      while (j < dim) {
        s += v.getDouble(j) * planes(off + j)
        j += 1
      }
      if (s >= 0) out(t / rowsPerBand) |= 1L << (t % rowsPerBand)
      t += 1
    }
    new GenericArrayData(out)
  }

  /** cos(a, b) = Σab / (√Σaa · √Σbb), accumulated in one pass with the
    * same per-accumulator op order as three separate folds. Null on length
    * mismatch or null elements, like [[dotD]]. */
  def cosineD(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var sab = 0.0; var saa = 0.0; var sbb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i); val y = b.getDouble(i)
      sab += x * y; saa += x * x; sbb += y * y
      i += 1
    }
    java.lang.Double.valueOf(sab / (math.sqrt(saa) * math.sqrt(sbb)))
  }

  /** Cosine of `v` against each centroid row (flat row-major `cents`). */
  private def centroidCosines(v: ArrayData, cents: Array[Double],
                              dim: Int): Array[Double] = {
    val k = cents.length / dim
    val out = new Array[Double](k)
    var svv = 0.0
    var i = 0
    while (i < dim) { val x = v.getDouble(i); svv += x * x; i += 1 }
    val nv = math.sqrt(svv)
    var c = 0
    while (c < k) {
      var sab = 0.0; var scc = 0.0
      val off = c * dim
      i = 0
      while (i < dim) {
        val x = v.getDouble(i); val y = cents(off + i)
        sab += x * y; scc += y * y
        i += 1
      }
      out(c) = sab / (nv * math.sqrt(scc))
      c += 1
    }
    out
  }

  /** "Greater" with SQL total ordering: NaN sorts above every number,
    * matching `array_max` / descending `array_sort` semantics so the
    * kernels rank zero-norm (NaN-cosine) cells exactly like the
    * higher-order-function forms they replaced. */
  private def gtNaN(a: Double, b: Double): Boolean =
    if (a.isNaN) !b.isNaN else !b.isNaN && a > b

  /** Nearest-centroid cell: argmax cosine, ties to the LOWEST cell id
    * (matches `array_position(sims, array_max(sims)) - 1`, NaN greatest). */
  def centroidCell(v: ArrayData, cents: Array[Double], dim: Int): Int = {
    val cos = centroidCosines(v, cents, dim)
    var best = 0
    var i = 1
    while (i < cos.length) { if (gtNaN(cos(i), cos(best))) best = i; i += 1 }
    best
  }

  /** Top-`nprobe` cells by cosine, ties to the HIGHER cell id first
    * (matches `reverse(array_sort(struct(cos, cell)))`, NaN greatest). */
  def centroidProbes(v: ArrayData, cents: Array[Double], dim: Int,
                     nprobe: Int): ArrayData = {
    val cos = centroidCosines(v, cents, dim)
    val k = cos.length
    val taken = new Array[Boolean](k)
    val m = math.min(nprobe, k)
    val out = new Array[Int](m)
    var j = 0
    while (j < m) {
      var best = -1
      var i = 0
      while (i < k) {
        if (!taken(i) && (best < 0 || gtNaN(cos(i), cos(best)) ||
          (cos(i) == cos(best) && i > best) ||
          (cos(i).isNaN && cos(best).isNaN && i > best))) best = i
        i += 1
      }
      taken(best) = true
      out(j) = best
      j += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Interval bucket stamp for time `t` against a strictly-increasing clock:
   * `beginIncl` selects [b, e) vs (b, e] membership, `stampBegin` selects
   * which endpoint stamps the row. Returns `NoBucket` when t falls outside
   * every interval. O(log m) binary search, no allocation.
   */
  def intervalBucket(c: Array[Long], t: Long,
                     beginIncl: Boolean, stampBegin: Boolean): Long = {
    val m = c.length
    var lo = 0
    var hi = m
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (c(mid) < t) lo = mid + 1 else hi = mid
    }
    val found = lo < m && c(lo) == t
    if (beginIncl) {
      if (found) { if (lo < m - 1) { if (stampBegin) c(lo) else c(lo + 1) } else NoBucket }
      else if (lo > 0 && lo < m) { if (stampBegin) c(lo - 1) else c(lo) }
      else NoBucket
    } else {
      if (found) { if (lo > 0) { if (stampBegin) c(lo - 1) else c(lo) } else NoBucket }
      else if (lo > 0 && lo < m) { if (stampBegin) c(lo - 1) else c(lo) }
      else NoBucket
    }
  }

  private val FmtPng = org.apache.spark.unsafe.types.UTF8String.fromString("png")
  private val FmtBmp = org.apache.spark.unsafe.types.UTF8String.fromString("bmp")
  private val FmtGif = org.apache.spark.unsafe.types.UTF8String.fromString("gif")
  private val FmtWav = org.apache.spark.unsafe.types.UTF8String.fromString("wav")
  private val FmtWebp = org.apache.spark.unsafe.types.UTF8String.fromString("webp")
  private val FmtJpeg = org.apache.spark.unsafe.types.UTF8String.fromString("jpeg")
  private val FmtUnknown = org.apache.spark.unsafe.types.UTF8String.fromString("unknown")

  @inline private def u8(b: Array[Byte], i: Int): Int = b(i) & 0xFF
  @inline private def le16(b: Array[Byte], o: Int): Int = u8(b, o) | (u8(b, o + 1) << 8)
  @inline private def le24(b: Array[Byte], o: Int): Int =
    u8(b, o) | (u8(b, o + 1) << 8) | (u8(b, o + 2) << 16)
  @inline private def le32(b: Array[Byte], o: Int): Long =
    le16(b, o).toLong | (le16(b, o + 2).toLong << 16)
  @inline private def be16(b: Array[Byte], o: Int): Int = (u8(b, o) << 8) | u8(b, o + 1)
  @inline private def be32(b: Array[Byte], o: Int): Long =
    (be16(b, o).toLong << 16) | be16(b, o + 2).toLong
  @inline private def tag4(b: Array[Byte], o: Int, t: String): Boolean =
    u8(b, o) == t.charAt(0) && u8(b, o + 1) == t.charAt(1) &&
      u8(b, o + 2) == t.charAt(2) && u8(b, o + 3) == t.charAt(3)

  /**
   * Media-header metadata `(n_bytes, format, width, height, sample_rate,
   * channels)` as one InternalRow — the whole fixed-offset parse for
   * BMP/PNG/GIF/WAV/WebP plus the bounded JPEG SOF walk in a single
   * monomorphic call. This replaces a ~700-node column-expression tree
   * (per-byte substring/conv/concat over a hex prefix, times six payloads
   * per row in the header round-trip query) that pushed the generated
   * projection past the JVM's 64 KB method limit and knocked the whole
   * stage out of codegen. Semantics are byte-for-byte those documented on
   * `Multimodal.decodeMeta`.
   */
  def mediaMeta(bytes: Array[Byte], jpegMaxPrefix: Int,
                jpegMaxSegments: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val n = bytes.length
    var fmt = FmtUnknown
    var w: java.lang.Integer = null
    var h: java.lang.Integer = null
    var rate: java.lang.Integer = null
    var ch: java.lang.Integer = null
    if (n >= 8 && u8(bytes, 0) == 0x89 && u8(bytes, 1) == 'P' &&
      u8(bytes, 2) == 'N' && u8(bytes, 3) == 'G' && u8(bytes, 4) == 0x0D &&
      u8(bytes, 5) == 0x0A && u8(bytes, 6) == 0x1A && u8(bytes, 7) == 0x0A) {
      if (n >= 24) {
        fmt = FmtPng
        w = be32(bytes, 16).toInt
        h = be32(bytes, 20).toInt
      }
    } else if (n >= 26 && u8(bytes, 0) == 'B' && u8(bytes, 1) == 'M') {
      fmt = FmtBmp
      val dib = le32(bytes, 14)
      if (dib == 12L) {
        // BITMAPCOREHEADER: unsigned 16-bit dims
        w = le16(bytes, 18)
        h = le16(bytes, 20)
      } else if (dib == 40L || dib == 52L || dib == 56L || dib == 64L ||
        dib == 108L || dib == 124L) {
        // INFO family: signed 32-bit (negative height = top-down rows)
        w = le32(bytes, 18).toInt
        h = le32(bytes, 22).toInt
      } // unknown DIB size: format-only, never garbage dims
    } else if (n >= 10 && u8(bytes, 0) == 'G' && u8(bytes, 1) == 'I' &&
      u8(bytes, 2) == 'F' && u8(bytes, 3) == '8' &&
      (u8(bytes, 4) == '7' || u8(bytes, 4) == '9') && u8(bytes, 5) == 'a') {
      fmt = FmtGif
      w = le16(bytes, 6)
      h = le16(bytes, 8)
    } else if (n >= 12 && tag4(bytes, 0, "RIFF")) {
      if (tag4(bytes, 8, "WAVE")) {
        fmt = FmtWav
        // audio fields only for the standard fmt-chunk-at-12 layout
        if (n >= 28 && tag4(bytes, 12, "fmt ")) {
          ch = le16(bytes, 22)
          rate = le32(bytes, 24).toInt
        }
      } else if (n >= 16 && tag4(bytes, 8, "WEBP")) {
        fmt = FmtWebp
        if (n >= 30 && tag4(bytes, 12, "VP8 ") && u8(bytes, 23) == 0x9D &&
          u8(bytes, 24) == 0x01 && u8(bytes, 25) == 0x2A) {
          w = le16(bytes, 26) & 0x3FFF
          h = le16(bytes, 28) & 0x3FFF
        } else if (n >= 25 && tag4(bytes, 12, "VP8L") && u8(bytes, 20) == 0x2F) {
          val bits = le32(bytes, 21)
          w = ((bits & 0x3FFF) + 1L).toInt
          h = (((bits >>> 14) & 0x3FFF) + 1L).toInt
        } else if (n >= 30 && tag4(bytes, 12, "VP8X")) {
          w = le24(bytes, 24) + 1
          h = le24(bytes, 27) + 1
        }
      }
    } else if (n >= 3 && u8(bytes, 0) == 0xFF && u8(bytes, 1) == 0xD8 &&
      u8(bytes, 2) == 0xFF) {
      fmt = FmtJpeg
      val packed = jpegDims(bytes, jpegMaxPrefix, jpegMaxSegments)
      if (packed >= 0L) {
        w = (packed >>> 32).toInt
        h = (packed & 0xFFFFL).toInt
      }
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](n, fmt, w, h, rate, ch))
  }

  // --- Text-stat kernels ---------------------------------------------------

  /** java.util.regex / RE2 \s: the six ASCII whitespace chars. */
  @inline private def isRegexSpace(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /**
   * Count of BPE-pretokenizer segments `[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]`
   * (TextStats.BpeTokenPattern) in one char-class transition loop. The
   * alternation's matches are exactly: maximal ASCII letter runs, maximal
   * ASCII digit runs, and each remaining non-whitespace CODE POINT on its
   * own (surrogate pairs advance as one, like the regex). Replaces a
   * regexp_count whose engine re-examined every position — this is one pass,
   * branch-per-char, perfectly linear in input length.
   */
  def bpeCount(u: org.apache.spark.unsafe.types.UTF8String): Int = {
    val s = u.toString
    val n = s.length
    var cnt = 0
    var prev = 0 // 0 = none/space/other, 1 = letter run, 2 = digit run
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        if (prev != 1) cnt += 1
        prev = 1; i += 1
      } else if (c >= '0' && c <= '9') {
        if (prev != 2) cnt += 1
        prev = 2; i += 1
      } else if (isRegexSpace(c)) {
        prev = 0; i += 1
      } else {
        cnt += 1
        prev = 0
        i += Character.charCount(s.codePointAt(i))
      }
    }
    cnt
  }

  /**
   * Stopword-vote language ID in one pass: split on single spaces (the
   * corpus convention `split(text, ' ')` uses), look each short token up in
   * `wordMask` (word -> bitmask of language ordinals — a word like "que"
   * can vote for several languages, exactly like the per-language
   * `filter(tokens, isin(...))` counts it replaces), count CJK chars for
   * `cjkIdx` in the same scan, and return the FIRST label (list order) whose
   * vote count equals the maximum — the tie semantics of
   * `greatest(...)` + a when-chain in label order.
   */
  def langIdLabel(u: org.apache.spark.unsafe.types.UTF8String,
                  wordMask: java.util.HashMap[String, Integer],
                  labels: Array[org.apache.spark.unsafe.types.UTF8String],
                  maxWordLen: Int,
                  cjkIdx: Int): org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    val n = s.length
    val counts = new Array[Int](labels.length)
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val len = i - tokStart
        if (len > 0 && len <= maxWordLen) {
          val m = wordMask.get(s.substring(tokStart, i))
          if (m != null) {
            var b = m.intValue()
            while (b != 0) {
              counts(java.lang.Integer.numberOfTrailingZeros(b)) += 1
              b &= b - 1
            }
          }
        }
        tokStart = i + 1
      } else if (cjkIdx >= 0) {
        val c = s.charAt(i)
        if (c >= 0x4e00 && c <= 0x9fff) counts(cjkIdx) += 1
      }
      i += 1
    }
    var best = 0
    var j = 1
    while (j < counts.length) { if (counts(j) > counts(best)) best = j; j += 1 }
    labels(best)
  }

  /**
   * Per-document token statistics in ONE pass over the chars:
   * `(n_tokens, n_unique, n_punct, n_stop)` where tokens are single-space
   * splits (empty tokens from consecutive spaces count, like
   * `split(text, ' ')`), `n_unique` counts distinct token strings
   * (= `size(array_distinct(split(...)))`), `n_punct` counts chars in
   * `[.,!?;:]` (= the length-difference of the regexp_replace form), and
   * `n_stop` counts tokens found in `stopSet`
   * (= `size(filter(tokens, isin(words)))`). Replaces up to four separate
   * split-array pipelines (each allocating a token array per row) that made
   * the quality/token-stats queries the last superlinear-in-bytes family.
   */
  def docTokenStats(u: org.apache.spark.unsafe.types.UTF8String,
                    stopSet: java.util.HashSet[String],
                    maxStopLen: Int): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val n = s.length
    val uniq = new java.util.HashSet[String]()
    var nTok = 0
    var nPunct = 0
    var nStop = 0
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        nTok += 1
        val tok = s.substring(tokStart, i)
        uniq.add(tok)
        if (i - tokStart <= maxStopLen && stopSet.contains(tok)) nStop += 1
        tokStart = i + 1
      } else {
        val c = s.charAt(i)
        if (c == '.' || c == ',' || c == '!' || c == '?' || c == ';' || c == ':')
          nPunct += 1
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nTok, uniq.size(), nPunct, nStop))
  }

  /**
   * Context-window chunking in one pass: returns an array of structs
   * `(start, n_tokens, chunk_text)` for chunk starts 0, stride, 2*stride, …
   * < n_tokens, where tokens are single-space splits of `text`. Because the
   * join delimiter equals the split delimiter, `array_join(slice(tokens,
   * s+1, chunkSize), " ")` is exactly the SUBSTRING of `text` spanning
   * those tokens (consecutive spaces round-trip as empty tokens), so the
   * kernel records token start offsets once and emits substrings — no
   * token array, no per-chunk slice/join allocations. Empty text has one
   * empty token, like `split("", " ")`.
   */
  def chunkSpans(u: org.apache.spark.unsafe.types.UTF8String,
                 chunkSize: Int, stride: Int): ArrayData = {
    val s = u.toString
    val n = s.length
    // token i spans [starts(i), ends(i)); single-space delimiter
    var nTok = 1
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') nTok += 1; i += 1 }
    val starts = new Array[Int](nTok)
    var t = 1
    i = 0
    while (i < n) {
      if (s.charAt(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    val nChunks = (nTok + stride - 1) / stride
    val out = new Array[Any](nChunks)
    var c = 0
    while (c < nChunks) {
      val st = c * stride
      val take = math.min(chunkSize, nTok - st)
      val from = starts(st)
      val until = if (st + take >= nTok) n else starts(st + take) - 1
      out(c) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](st, take,
          org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(from, until))))
      c += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Order-sensitive rolling hash over a token array, bit-identical to the
   * `aggregate(tokens, 0L, (acc, t) => xxhash64(acc, t))` fold it replaces:
   * Spark's two-child xxhash64 seeds with 42, folds the long acc, then the
   * token bytes — so acc' = hashBytes(t, hashLong(acc, 42)). One primitive
   * loop per row instead of one boxed lambda dispatch per token.
   */
  def rollingTokenHash(tokens: ArrayData): Long = {
    val n = tokens.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      val t = tokens.getUTF8String(i)
      val h = XXH64.hashLong(acc, 42L)
      acc =
        if (t == null) h
        else XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
      i += 1
    }
    acc
  }

  /**
   * Rolling polynomial hashes of EVERY k-codepoint window of `text`, in
   * positional order: `h_i = Σ_j cp_{i+j} · B^{k-1-j} (mod 2^64)` with
   * base B = 1000003 — one O(n) primitive loop per row, n−k+1 outputs,
   * empty when the text has fewer than k codepoints. The candidate
   * generator of the exact-substring dedup tier (Dedup.exactSubstrSpans):
   * equal windows ALWAYS hash equal (the tier's no-false-negative half),
   * collisions only add candidates that the content-verify stage removes.
   * Windows are CODEPOINT-aligned so positions line up with SQL
   * `substr()` character indexing (and with Spark's `substring`) on any
   * input, not just ASCII.
   */
  def charWindowHashes(text: org.apache.spark.unsafe.types.UTF8String,
                       k: Int): ArrayData = {
    val s = text.toString
    val len = s.length
    // one pass to count codepoints; surrogate pairs collapse to one
    val n = s.codePointCount(0, len)
    if (n < k) return new GenericArrayData(Array.emptyLongArray)
    val cps = new Array[Int](n)
    var ci = 0
    var si = 0
    while (si < len) {
      val cp = s.codePointAt(si)
      cps(ci) = cp
      ci += 1
      si += Character.charCount(cp)
    }
    val B = 1000003L
    var pow = 1L // B^(k-1) mod 2^64
    var j = 0
    while (j < k - 1) { pow *= B; j += 1 }
    val out = new Array[Long](n - k + 1)
    var h = 0L
    var i = 0
    while (i < k) { h = h * B + cps(i); i += 1 }
    out(0) = h
    i = k
    while (i < n) {
      h = (h - cps(i - k) * pow) * B + cps(i)
      out(i - k + 1) = h
      i += 1
    }
    new GenericArrayData(out)
  }

  // --- Fused PII scrub -----------------------------------------------------
  // Same three pattern classes as graft.llm.Pii, staged in the same order
  // (email -> phone -> ipv4), but evaluated in ONE kernel call per row with
  // counts collected during the replace loops. The full-pattern regex scan is
  // replaced by anchor jumps (indexOf '@' / '+' / word-boundary digit) with
  // the REAL java.util.regex engine validating each anchor, so match
  // enumeration is provably identical to successive Matcher.find() — the
  // semantics regexp_replace/regexp_count implement — while skipping the
  // per-position prefix scans that made the column form superlinear in token
  // run length. The six regex passes of the staged column formulation
  // (3 counts + 3 replaces) collapse into three anchor-jump passes.

  /** Domain part of Pii.EmailPattern (everything after the '@'). */
  private val EmailDomainPat = java.util.regex.Pattern.compile(
    "[A-Za-z0-9-]+(\\.[A-Za-z0-9-]+)*\\.[A-Za-z]{2,}")
  private val PhonePat = java.util.regex.Pattern.compile(
    "\\+[0-9]{1,3}([ -]?[0-9]{2,4}){2,4}\\b")
  private val Ipv4Pat = java.util.regex.Pattern.compile(
    "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** Char class of Pii.EmailPattern's local part: [A-Za-z0-9._%+-]. */
  @inline private def isAtom(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '.' || c == '_' || c == '%' ||
      c == '+' || c == '-'

  /** java.util.regex's (non-UNICODE_CHARACTER_CLASS) \w for \b checks. */
  @inline private def isWordCh(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_'

  /**
   * Email stage: for each '@' (indexOf jump), the local part is the maximal
   * backward run of atom chars (greedy `[atom]+` cannot backtrack usefully —
   * the char after any shortened run is an atom char, never '@'), clamped at
   * the previous match's end exactly as Matcher.find(end) clamps match
   * starts; the domain is validated by the real regex via region+lookingAt
   * (its start is '@'-anchored, independent of the local part). An '@' whose
   * anchor fails can start no match at any other position either (any
   * earlier start hits this same '@' with the same failed domain; later
   * starts belong to later '@'s), so jumping to the next '@' preserves
   * leftmost-match order. Counts the replacements into `counts(slot)`.
   */
  private def scrubEmails(s: String, counts: Array[Int], slot: Int): String = {
    var p = s.indexOf('@')
    if (p < 0) return s
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var last = 0
    var m: java.util.regex.Matcher = null
    while (p >= 0) {
      var bs = p
      while (bs > last && isAtom(s.charAt(bs - 1))) bs -= 1
      var end = -1
      if (bs < p) {
        if (m == null) m = EmailDomainPat.matcher(s)
        m.region(p + 1, n)
        if (m.lookingAt()) end = m.end()
      }
      if (end >= 0) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, last, bs).append("<EMAIL>")
        last = end
        counts(slot) += 1
        p = s.indexOf('@', end)
      } else p = s.indexOf('@', p + 1)
    }
    if (sb == null) s else sb.append(s, last, n).toString
  }

  /** Phone stage: the pattern starts with a literal '+', so candidate match
    * starts are exactly the '+' positions — indexOf jumps between them and
    * the full pattern validates via region+lookingAt (trailing \b sees the
    * true region end). */
  private def scrubPhones(s: String, counts: Array[Int], slot: Int): String = {
    var p = s.indexOf('+')
    if (p < 0) return s
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var last = 0
    var m: java.util.regex.Matcher = null
    while (p >= 0) {
      if (m == null) m = PhonePat.matcher(s)
      m.region(p, n)
      if (m.lookingAt()) {
        if (sb == null) sb = new java.lang.StringBuilder(n)
        sb.append(s, last, p).append("<PHONE>")
        last = m.end()
        counts(slot) += 1
        p = s.indexOf('+', last)
      } else p = s.indexOf('+', p + 1)
    }
    if (sb == null) s else sb.append(s, last, n).toString
  }

  /** IPv4 stage: a match must start on a digit whose predecessor is a
    * non-word char (the leading \b; checked here against the TRUE
    * predecessor — the regex then runs with an opaque region start, where
    * its own \b trivially holds). Digits inside a word run can never start
    * a match, so the anchor scan skips them. */
  private def scrubIps(s: String, counts: Array[Int], slot: Int): String = {
    val n = s.length
    var sb: java.lang.StringBuilder = null
    var last = 0
    var m: java.util.regex.Matcher = null
    var q = 0
    while (q < n) {
      val c = s.charAt(q)
      if (c >= '0' && c <= '9' && (q == 0 || !isWordCh(s.charAt(q - 1)))) {
        if (m == null) m = Ipv4Pat.matcher(s)
        m.region(q, n)
        if (m.lookingAt()) {
          if (sb == null) sb = new java.lang.StringBuilder(n)
          sb.append(s, last, q).append("<IP>")
          last = m.end()
          counts(slot) += 1
          q = last
        } else q += 1
      } else q += 1
    }
    if (sb == null) s else sb.append(s, last, n).toString
  }

  /**
   * One-call PII scrub: `(redacted, n_emails, n_phones, n_ips)` with the
   * exact staged semantics of `Pii.redact` + `Pii.counts` — emails replaced
   * on the raw text, phones on the email-redacted text, IPv4s on the
   * phone-redacted text, each count taken on its stage's input (so a
   * phone-looking run swallowed by an email is never double-counted).
   * Replacement tokens contain no '$'/'\' so literal append matches
   * regexp_replace's replacement handling.
   */
  def piiScrub(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val counts = new Array[Int](3)
    val s1 = scrubEmails(u.toString, counts, 0)
    val s2 = scrubPhones(s1, counts, 1)
    val s3 = scrubIps(s2, counts, 2)
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      org.apache.spark.unsafe.types.UTF8String.fromString(s3),
      counts(0), counts(1), counts(2)))
  }

  /**
   * Bounded JPEG SOF-marker walk over the leading `maxPrefix` bytes: hop
   * `FF xx | len(BE16) | payload` segments from byte 2 until a SOF marker
   * (C0-CF minus DHT C4 / JPG C8 / DAC CC — payload `precision(1)
   * height(BE16) width(BE16)`), a halt marker (SOS/EOI/SOI/TEM/RSTn — the
   * length-less ones the walk cannot step over), a malformed length, or the
   * prefix/segment budget. Returns `(width << 32) | height`, or -1 when no
   * SOF is found within bounds — the caller reports null dims, never a
   * guess. One tight primitive loop per row, no allocation.
   */
  def jpegDims(bytes: Array[Byte], maxPrefix: Int, maxSegments: Int): Long = {
    val n = math.min(bytes.length, maxPrefix)
    var off = 2
    var seg = 0
    while (seg < maxSegments && off + 4 <= n) {
      if ((bytes(off) & 0xFF) != 0xFF) return -1L
      val m = bytes(off + 1) & 0xFF
      if (m == 0xDA || m == 0xD9 || m == 0xD8 || m == 0x01 ||
        (m >= 0xD0 && m <= 0xD7)) return -1L
      val len = ((bytes(off + 2) & 0xFF) << 8) | (bytes(off + 3) & 0xFF)
      val isSof = m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC
      if (isSof) {
        if (off + 9 > n || len < 7) return -1L
        val h = ((bytes(off + 5) & 0xFF) << 8) | (bytes(off + 6) & 0xFF)
        val w = ((bytes(off + 7) & 0xFF) << 8) | (bytes(off + 8) & 0xFF)
        return (w.toLong << 32) | h.toLong
      }
      if (len < 2) return -1L
      off += 2 + len
      seg += 1
    }
    -1L
  }

  /**
   * Unigram language-model score of single-space-tokenized text, in
   * integer MICRO-NATS: Σ over tokens of `lp(token)` (the model's
   * quantized log-probability, `round(ln(p)·1e6)` as long), with
   * `defaultLp` for out-of-vocabulary tokens. Integer accumulation makes
   * the score bit-identical on any engine and any summation order — the
   * property that lets a SQL oracle (or a second cluster) reproduce the
   * exact value, where double summation would drift by ulps in a
   * different order. One token walk per row, no allocation beyond the
   * substring lookups.
   */
  def unigramScore(u: org.apache.spark.unsafe.types.UTF8String,
                   lp: java.util.HashMap[String, java.lang.Long],
                   defaultLp: Long, maxTokenLen: Int): Long = {
    val s = u.toString
    val n = s.length
    var total = 0L
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        var v = defaultLp
        if (i - tokStart <= maxTokenLen) {
          val hit = lp.get(s.substring(tokStart, i))
          if (hit != null) v = hit.longValue()
        }
        total += v
        tokStart = i + 1
      }
      i += 1
    }
    total
  }

  /**
   * Bigram language-model score with stupid-backoff, in integer
   * MICRO-NATS: Σ over ADJACENT token pairs of `biLp("w1 w2")` when the
   * pair is in the bigram model, else `backoffLp + uniLp(w2)` (or
   * `backoffLp + defaultLp` for OOV w2) — the CCNet-style n-gram quality
   * signal one order up from [[unigramScore]], with the same
   * bit-identical integer accumulation contract. The pair key is the raw
   * substring spanning both tokens (they are single-space separated, so
   * `"w1 w2"` IS that substring — no concatenation, no allocation beyond
   * the lookups). Documents with fewer than two tokens score 0. One
   * token walk per row.
   */
  def bigramScore(u: org.apache.spark.unsafe.types.UTF8String,
                  biLp: java.util.HashMap[String, java.lang.Long],
                  uniLp: java.util.HashMap[String, java.lang.Long],
                  backoffLp: Long, defaultLp: Long,
                  maxUniLen: Int, maxBiLen: Int): Long = {
    val s = u.toString
    val n = s.length
    var total = 0L
    var prevStart = -1
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (prevStart >= 0) {
          var hit: java.lang.Long = null
          if (i - prevStart <= maxBiLen)
            hit = biLp.get(s.substring(prevStart, i))
          if (hit != null) total += hit.longValue()
          else {
            var uv = defaultLp
            if (i - tokStart <= maxUniLen) {
              val uh = uniLp.get(s.substring(tokStart, i))
              if (uh != null) uv = uh.longValue()
            }
            total += backoffLp + uv
          }
        }
        prevStart = tokStart
        tokStart = i + 1
      }
      i += 1
    }
    total
  }

  /**
   * Heuristic registrable domain of a lowercased host (the zero-config
   * default): last two labels, or last three when the penultimate label
   * is a registry second-level label ([[graft.llm.Urls.SecondLevelLabels]]);
   * single-label hosts pass through. Semantics identical to the
   * split/element_at Column form it replaces — the kernel exists so the
   * host subtree is evaluated ONCE per row (a filter predicate built on
   * the expression form re-evaluates the regex-heavy host extraction per
   * split() occurrence; FilterExec codegen has no subexpression
   * elimination).
   */
  def registrableDomainHeuristic(host: org.apache.spark.unsafe.types.UTF8String,
                                 labels: java.util.HashSet[String]): org.apache.spark.unsafe.types.UTF8String = {
    val s = host.toString
    val last = s.lastIndexOf('.')
    if (last < 0) return host // single label
    val prev = s.lastIndexOf('.', last - 1)
    val penult = s.substring(prev + 1, last)
    if (prev >= 0 && labels.contains(penult)) {
      val prev2 = s.lastIndexOf('.', prev - 1)
      org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(prev2 + 1))
    } else {
      org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(prev + 1))
    }
  }

  /**
   * Registrable domain (eTLD+1) of a lowercased host under a
   * caller-supplied public-suffix set: the LONGEST label-boundary tail of
   * the host found in `suffixes` keeps one extra label; a host whose tail
   * matches no listed suffix falls back to the public-suffix-list
   * prevailing `*` rule (the bare TLD is the suffix → last two labels);
   * a host that IS a listed suffix, or has a single label, passes through
   * unchanged. One right-to-left label walk per row — no split array, no
   * per-candidate substring until a lookup is due, and lookups are bounded
   * by `maxSuffixLabels` (the deepest listed suffix).
   */
  def registrableDomain(host: org.apache.spark.unsafe.types.UTF8String,
                        suffixes: java.util.HashSet[String],
                        maxSuffixLabels: Int): org.apache.spark.unsafe.types.UTF8String = {
    val s = host.toString
    val n = s.length
    // label start offsets, right to left: starts(k) = start of the tail
    // with k+1 labels (bounded by maxSuffixLabels + 1 — deeper tails can
    // never match and the +1 label is the registrable one)
    var bestStart = -1 // start of the matched suffix tail
    var labels = 0
    var secondStart = -1
    var i = n - 1
    while (i >= -1 && labels <= maxSuffixLabels) {
      if (i == -1 || s.charAt(i) == '.') {
        val start = i + 1
        labels += 1
        if (labels == 2) secondStart = start
        if (labels <= maxSuffixLabels &&
          suffixes.contains(s.substring(start, n))) bestStart = start
      }
      i -= 1
    }
    if (bestStart > 0) {
      // extend the matched suffix by one label to its left
      var j = bestStart - 2
      while (j >= 0 && s.charAt(j) != '.') j -= 1
      org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(j + 1))
    } else if (bestStart == 0) host // the whole host is a listed suffix
    else if (secondStart >= 0) {
      // unlisted TLD: PSL `*` rule — last two labels (whole host if 2)
      org.apache.spark.unsafe.types.UTF8String.fromString(s.substring(secondStart))
    } else host // single label
  }

  /** True when s[at..] starts (case-insensitively) with `name` followed by
    * a non-word char or end — the `\b` boundary of `<script\b` / `<style\b`. */
  @inline private def tagNameAt(s: String, at: Int, name: String): Boolean = {
    if (!s.regionMatches(true, at, name, 0, name.length)) return false
    val j = at + name.length
    if (j >= s.length) return true
    val c = s.charAt(j)
    !((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') ||
      (c >= '0' && c <= '9') || c == '_')
  }

  /** Index just past the `>` of the next `</name[ \t\n\r\f]*>` (case-
    * insensitive) at or after `from`, or -1 — the non-greedy
    * `.*?</name\s*>` tail of the script/style block regex. */
  private def closeTagEnd(s: String, from: Int, name: String): Int = {
    val n = s.length
    var i = s.indexOf('<', from)
    while (i >= 0) {
      if (i + 1 < n && s.charAt(i + 1) == '/' &&
          s.regionMatches(true, i + 2, name, 0, name.length)) {
        var j = i + 2 + name.length
        while (j < n && (s.charAt(j) == ' ' || s.charAt(j) == '\t' ||
          s.charAt(j) == '\n' || s.charAt(j) == '\r' || s.charAt(j) == '\f')) j += 1
        if (j < n && s.charAt(j) == '>') return j + 1
      }
      i = s.indexOf('<', i + 1)
    }
    -1
  }

  private val MarkupEntities: Array[(String, Char)] = Array(
    ("&amp;", '&'), ("&lt;", '<'), ("&gt;", '>'),
    ("&quot;", '"'), ("&#39;", '\''), ("&nbsp;", ' '))

  /**
   * WET-style markup-to-text extraction in one left-to-right scan, with
   * semantics EXACTLY reproducible as a regexp_replace/replace chain so
   * the DuckDB oracle can replay it:
   *  1. ONE leftmost-first global pass of the alternation
   *     `(?is)<script\b[^>]*>.*?</script[ \t\n\r\f]*>|<style\b[^>]*>.*?</style[ \t\n\r\f]*>`
   *     -> one space per block. A single alternation, NOT script-all-
   *     then-style-all: sequential per-tag passes diverge from a
   *     left-to-right scan on interleaved input like
   *     `<style>A<script>B</style>C</script>D` (alternation and the
   *     scanner both yield `C D`; strip-all-script-first would yield
   *     `A D`). An UNTERMINATED block never matches the non-greedy
   *     regex, so only its open tag strips (step 2) and the body
   *     survives as text — the scanner mirrors that fallback.
   *  2. every remaining `<[^>]*>` tag -> one space, ON THE BLOCK-STRIPPED
   *     text — so a tag span may cross a removed block (the block's
   *     replacement space is a legal tag-interior char), and a `<` whose
   *     only later `>` sat inside a removed block is unterminated. A `<`
   *     with no later `>` survives literally (the regex can't match it).
   *     The scanner mirrors this with a tag-state walk that treats each
   *     completed block as an injected space: pending tag chars buffer
   *     until the tag's `>` arrives (drop the buffer, emit one space) or
   *     input ends (the buffered chars are literal text, entities still
   *     decode in them — exactly the unterminated-tag tail of the chain).
   *  3. the six standard entities decode left-to-right, first match wins
   *     (`&amp;` -> `&`, `&lt;` `&gt;` `&quot;` `&#39;` `&nbsp;`);
   *     decoded chars are literal text, never re-parsed as markup.
   *  4. runs of `[ \t\n\r\f]` collapse to one space; leading/trailing
   *     space trims.
   * One pass, no regex engine, linear in input bytes — INCLUDING
   * adversarial input: forward searches that come back empty are
   * remembered (search positions only move right, so "no `>` after here"
   * / "no `</script>` after here" stay true), which keeps a megabyte of
   * bare `<` or a run of unterminated `<script>` opens at one scan
   * instead of one scan per occurrence.
   */
  def stripMarkup(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    @inline def emit(c: Char): Unit = {
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') {
        pendingSpace = true
      } else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        sb.append(c)
      }
    }
    // failed-search memos: scan positions only move right, so a miss
    // stays a miss — a megabyte of '<' or of unterminated <script> opens
    // costs one scan, not one scan per occurrence
    var noGt = false          // no '>' at or after the last failed search
    var noScriptClose = false // no '</script...>' after the last failed search
    var noStyleClose = false  // no '</style...>' after the last failed search

    /** Index just past the script/style BLOCK starting at `at` (which
      * points at '<'), or -1 when no complete block starts here. */
    def blockEnd(at: Int): Int = {
      val isScript = tagNameAt(s, at + 1, "script")
      val isStyle = !isScript && tagNameAt(s, at + 1, "style")
      if (!isScript && !isStyle) return -1
      if ((isScript && noScriptClose) || (isStyle && noStyleClose) || noGt)
        return -1
      val close = s.indexOf('>', at) // first '>' ends the open tag ([^>]*>)
      if (close < 0) { noGt = true; return -1 }
      val end = closeTagEnd(s, close + 1, if (isScript) "script" else "style")
      if (end < 0) {
        if (isScript) noScriptClose = true else noStyleClose = true
        -1
      } else end
    }

    /** Literal text emit with entity decoding (used for the main text and
      * for replaying an unterminated tag tail at end of input). */
    def decodeEmit(t: String): Unit = {
      var j = 0
      while (j < t.length) {
        val c = t.charAt(j)
        if (c == '&') {
          var k = 0
          var matched = false
          while (k < MarkupEntities.length && !matched) {
            val ent = MarkupEntities(k)._1
            if (t.regionMatches(false, j, ent, 0, ent.length)) {
              emit(MarkupEntities(k)._2); j += ent.length; matched = true
            }
            k += 1
          }
          if (!matched) { emit('&'); j += 1 }
        } else { emit(c); j += 1 }
      }
    }

    // Tag-state walk over the block-stripped stream: blocks collapse to a
    // space wherever they appear (inside a pending tag span too), tags
    // buffer until their '>' (one space) or end of input (literal tail).
    val tagBuf = new java.lang.StringBuilder
    var inTag = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '<') {
        val be = blockEnd(i)
        if (be > 0) {
          if (inTag) tagBuf.append(' ') else emit(' ')
          i = be
        } else if (inTag) { tagBuf.append(c); i += 1 }
        else { inTag = true; tagBuf.setLength(0); tagBuf.append(c); i += 1 }
      } else if (inTag) {
        if (c == '>') { inTag = false; emit(' ') } else tagBuf.append(c)
        i += 1
      } else if (c == '&') {
        var k = 0
        var matched = false
        while (k < MarkupEntities.length && !matched) {
          val ent = MarkupEntities(k)._1
          if (s.regionMatches(false, i, ent, 0, ent.length)) {
            emit(MarkupEntities(k)._2); i += ent.length; matched = true
          }
          k += 1
        }
        if (!matched) { emit('&'); i += 1 }
      } else { emit(c); i += 1 }
    }
    if (inTag) decodeEmit(tagBuf.toString)
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /**
   * Encoding-quality counters in one code-point scan:
   * (n_chars, n_replacement, n_control) where n_chars counts Unicode code
   * points (= DuckDB `length()`), n_replacement counts U+FFFD, and
   * n_control counts C0 controls other than tab/newline/CR plus DEL
   * (`[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]`) — the standard mojibake /
   * binary-contamination signal for web corpora.
   */
  def encodingStats(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val n = s.length
    var chars = 0
    var repl = 0
    var ctrl = 0
    var i = 0
    while (i < n) {
      val cp = s.codePointAt(i)
      chars += 1
      if (cp == 0xFFFD) repl += 1
      else if ((cp < 0x20 && cp != '\t' && cp != '\n' && cp != '\r') || cp == 0x7F)
        ctrl += 1
      i += Character.charCount(cp)
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](chars, repl, ctrl))
  }

  /**
   * The Gopher/MassiveText quality counters hardFilterFlags doesn't already
   * cover, in one scan: words are single-space splits (corpus convention),
   * lines are `\n` splits. Returns
   * (n_words, n_alpha_words, n_symbols, n_lines, n_bullet_lines,
   *  n_ellipsis_lines) where an alpha word contains >= 1 ASCII letter,
   * symbols = `#` occurrences + non-overlapping `...` matches (counted
   * left-to-right like RE2 regexp_extract_all), a bullet line starts with
   * `- `, `* `, or `•`, and an ellipsis line ends with `...`.
   * Integer outputs on purpose: the rule thresholds compare via integer
   * cross-multiplication so the flags are bit-stable in any engine.
   */
  def gopherStats(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val n = s.length
    var nWords = 0
    var nAlpha = 0
    var nSym = 0
    var nLines = 0
    var nBullet = 0
    var nEllipsis = 0
    var wordHasAlpha = false
    var lineStart = 0
    var dotRun = 0 // run length of '.' ending at current char
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ') {
        nWords += 1
        if (wordHasAlpha) nAlpha += 1
        wordHasAlpha = false
      } else if ((c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')) {
        wordHasAlpha = true
      }
      if (c == '#') nSym += 1
      if (c == '.') { dotRun += 1; if (dotRun == 3) { nSym += 1; dotRun = 0 } }
      else dotRun = 0
      if (c == '\n' || i == n - 1) {
        val end = if (c == '\n') i else i + 1
        nLines += 1
        val len = end - lineStart
        if (len >= 2 && (s.charAt(lineStart) == '-' || s.charAt(lineStart) == '*') &&
            s.charAt(lineStart + 1) == ' ') nBullet += 1
        else if (len >= 1 && s.charAt(lineStart) == '•') nBullet += 1
        if (len >= 3 && s.charAt(end - 1) == '.' && s.charAt(end - 2) == '.' &&
            s.charAt(end - 3) == '.') nEllipsis += 1
        lineStart = i + 1
      }
      i += 1
    }
    // the word after the final space (split semantics: n_words = spaces+1)
    nWords += 1
    if (wordHasAlpha) nAlpha += 1
    if (n == 0) nLines = 1 // split('', '\n') is one empty line
    // a trailing '\n' leaves one empty final line (split semantics)
    else if (s.charAt(n - 1) == '\n') nLines += 1
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](nWords, nAlpha, nSym, nLines, nBullet, nEllipsis))
  }

  /** Code-point character segmentation of a word (DuckDB `w[i]` indexing
    * semantics — supplementary chars stay whole, unlike a UTF-16 walk). */
  def bpeCodePointChars(w: String): Array[String] = {
    val out = new Array[String](w.codePointCount(0, w.length))
    var i = 0
    var k = 0
    while (i < w.length) {
      val cc = Character.charCount(w.codePointAt(i))
      out(k) = w.substring(i, i + cc)
      k += 1
      i += cc
    }
    out
  }

  /** One BPE merge pass over a word's symbol sequence: left-to-right
    * greedy non-overlapping replacement of adjacent (l, r) with l+r —
    * the published merge-application rule (a merged symbol never
    * re-participates as `l` within the same pass). */
  def bpeApplyMerge(sy: Array[String], l: String, r: String): Array[String] = {
    if (sy.length < 2) return sy
    // no-match fast path (r15): most merges touch no adjacency in most
    // words — find the first (l, r) site before allocating anything and
    // return the input array untouched (callers never mutate symbol
    // arrays) when there is none. Output is identical: the builder loop
    // below starts from the same state the scan proved unchanged.
    var f = 0
    while (f < sy.length - 1 && !(sy(f) == l && sy(f + 1) == r)) f += 1
    if (f >= sy.length - 1) return sy
    val out = new scala.collection.mutable.ArrayBuffer[String](sy.length)
    var i = 0
    while (i < sy.length) {
      if (i < sy.length - 1 && sy(i) == l && sy(i + 1) == r) {
        out += (l + r)
        i += 2
      } else {
        out += sy(i)
        i += 1
      }
    }
    out.toArray
  }

  /**
   * BPE-encoded symbol count of a document under a learned merge list:
   * per whitespace word, code-point chars are merged by each (l, r) pair
   * in rank order (left-to-right greedy per pass), and the surviving
   * symbol counts sum over the document. Empty words (consecutive
   * spaces) contribute nothing. `lefts`/`rights` are the rank-ordered
   * merge sides (same length).
   */
  /** Per-thread, PER-TASK (merge-table, word) -> encoded-count memo for
    * [[bpeEncodeCount]]: natural-language corpora repeat words massively,
    * and the encode is a pure function of (word, merges), so each task
    * thread pays the O(merges × word) walk once per DISTINCT word instead
    * of once per occurrence. Keyed by the merge table's ARRAY IDENTITY
    * (codegen resolves the merge sides through one stable
    * addReferenceObj per expression, so identity is a correct and free
    * key; two logically-equal tables simply don't share entries). Capped:
    * beyond [[BpeMemoCap]] distinct words the encode computes uncached —
    * bounded memory, no eviction thrash, identical results. The memo is
    * DROPPED when the thread moves to a new task (task-attempt id
    * mismatch): a long-lived executor/local-mode thread pool otherwise
    * accumulates dead merge-tables' word maps across queries for the
    * life of the JVM — observed as GC pressure inflating UNRELATED
    * queries in a 169-query bench session. Within one task the hit rate
    * is what matters (each task walks thousands of rows); cross-task
    * reuse was never the win. */
  private val BpeMemoCap = 1 << 16
  private final class BpeMemoState(val taskId: Long) {
    val byTable =
      new java.util.IdentityHashMap[AnyRef, java.util.HashMap[String, Integer]]()
  }
  private val bpeMemo = new ThreadLocal[BpeMemoState]

  private def bpeEncodeWordCount(word: String, lefts: Array[String],
                                 rights: Array[String]): Int = {
    var sy = bpeCodePointChars(word)
    var m = 0
    while (m < lefts.length && sy.length >= 2) {
      sy = bpeApplyMerge(sy, lefts(m), rights(m))
      m += 1
    }
    sy.length
  }

  def bpeEncodeCount(u: org.apache.spark.unsafe.types.UTF8String,
                     lefts: Array[String], rights: Array[String]): Int = {
    val s = u.toString
    val n = s.length
    val memo = {
      // -1 marks driver-local evaluation (tests, constant folding): one
      // map per driver thread, still capped.
      val tid = org.apache.spark.TaskContext.get() match {
        case null => -1L
        case tc   => tc.taskAttemptId()
      }
      var st = bpeMemo.get()
      if (st == null || st.taskId != tid) {
        st = new BpeMemoState(tid)
        bpeMemo.set(st)
      }
      var m = st.byTable.get(lefts)
      if (m == null) { m = new java.util.HashMap[String, Integer](); st.byTable.put(lefts, m) }
      m
    }
    var total = 0
    var start = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        if (i > start) {
          val w = s.substring(start, i)
          val hit = memo.get(w)
          if (hit != null) total += hit.intValue()
          else {
            val c = bpeEncodeWordCount(w, lefts, rights)
            if (memo.size() < BpeMemoCap) memo.put(w, Integer.valueOf(c))
            total += c
          }
        }
        start = i + 1
      }
      i += 1
    }
    total
  }

  /**
   * Gopher/MassiveText repetition counters over the document's own lines
   * and paragraphs, in one pass per delimiter class:
   * (n_lines, n_dup_lines, line_chars, dup_line_chars,
   *  n_paras, n_dup_paras, para_chars, dup_para_chars).
   *
   * Units are literal non-overlapping splits (lines on `\n`, paragraphs on
   * `\n\n` — the same sequential-scan semantics as DuckDB `string_split`);
   * EMPTY units are excluded everywhere — consecutive newlines are document
   * structure, not repeatable content (the same rule stripBoilerplate
   * applies to blank lines). An occurrence is a duplicate when the
   * identical unit string appeared earlier in the same document, so a unit
   * occurring c times contributes c-1 duplicate occurrences. Char counts
   * are Unicode code points (= both engines' `length()`), summed over
   * non-empty units only.
   *
   * All outputs are exact integers so the derived fractions are identical
   * integer ratios in any engine.
   */
  def dupUnitStats(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    def scan(delim: String): Array[Long] = {
      val seen = new java.util.HashMap[String, Integer]()
      var n = 0L; var dup = 0L; var chars = 0L; var dupChars = 0L
      var from = 0
      var done = false
      while (!done) {
        val idx = s.indexOf(delim, from)
        val end = if (idx < 0) { done = true; s.length } else idx
        if (end > from) {
          val cp = s.codePointCount(from, end).toLong
          val unit = s.substring(from, end)
          n += 1; chars += cp
          val c = seen.merge(unit, 1, (a, b) => a + b)
          if (c > 1) { dup += 1; dupChars += cp }
        }
        from = end + delim.length
      }
      Array(n, dup, chars, dupChars)
    }
    val l = scan("\n")
    val p = scan("\n\n")
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](l(0), l(1), l(2), l(3), p(0), p(1), p(2), p(3)))
  }

  /**
   * CCNet-style text canonicalization for near-exact dedup (Wenzek et al.
   * 2020 §4.1's normalization, ASCII-scoped for bit-exact cross-engine
   * replay): ASCII uppercase folds to lowercase, ASCII digits 1-9 fold to
   * '0', the 32 ASCII punctuation marks are removed, whitespace runs
   * (space/tab/LF/CR/FF — the same class every text kernel here uses)
   * collapse to one space, and edges are trimmed. Everything else —
   * including all non-ASCII — passes through untouched, so the semantics
   * are EXACTLY the portable chain
   *
   *   trim(regexp_replace(translate(translate(translate(s,
   *     'A'..'Z' -> 'a'..'z'), '1'..'9' -> '0'*9), punct -> ''),
   *     '[ \t\n\r\f]+', ' '))
   *
   * which any engine (Spark, DuckDB) evaluates identically — no locale,
   * no Unicode case folding. One linear scan instead of five passes.
   */
  def normalizeText(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.unsafe.types.UTF8String = {
    val s = u.toString
    val n = s.length
    val sb = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == ' ' || c == '\t' || c == '\n' || c == '\r' || c == '\f') {
        pendingSpace = true
      } else if ((c >= 33 && c <= 47) || (c >= 58 && c <= 64) ||
                 (c >= 91 && c <= 96) || (c >= 123 && c <= 126)) {
        () // ASCII punctuation: removed (leaves the whitespace around it)
      } else {
        if (pendingSpace && sb.length > 0) sb.append(' ')
        pendingSpace = false
        if (c >= 'A' && c <= 'Z') sb.append((c + 32).toChar)
        else if (c >= '1' && c <= '9') sb.append('0')
        else sb.append(c)
      }
      i += 1
    }
    org.apache.spark.unsafe.types.UTF8String.fromString(sb.toString)
  }

  /** Portable 32-bit token fingerprint: lane 1 of [[simHashPortable]]
    * exposed on its own — the codepoint polynomial fold
    * `h = (h·1000003 + cp) mod 2^32` from FNV offset 2166136261 through
    * the [[mix32]] avalanche finisher. Every intermediate stays below
    * 2^53, so the DuckDB oracle replays it with plain BIGINT arithmetic
    * (the identical list_reduce/xor chain the simhash oracle pins). */
  def portableHash32(s: String): Long = {
    var h = 2166136261L
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      h = (h * 1000003L + cp) & 0xFFFFFFFFL
      ci += Character.charCount(cp)
    }
    mix32(h)
  }

  /**
   * Hashing-trick feature buckets (Weinberger et al. 2009) of the
   * whitespace tokens: one Int per `split(' ')` token (empty text → the
   * one empty token, matching `string_split` semantics everywhere else),
   * bucket = [[portableHash32]](token) mod `numBuckets`. One linear walk;
   * feeds the hashed Naive Bayes trainer's explode+groupBy and is the
   * exact bucket function the scoring kernel and the SQL oracle use.
   */
  def tokenBuckets(u: org.apache.spark.unsafe.types.UTF8String,
                   numBuckets: Int): ArrayData = {
    val s = u.toString
    val n = s.length
    var m = 1
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') m += 1; i += 1 }
    val out = new Array[Int](m)
    var w = 0
    var tokStart = 0
    i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        out(w) = (portableHash32(s.substring(tokStart, i)) % numBuckets).toInt
        w += 1
        tokStart = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Flesch–Kincaid surface statistics in ONE scan (Kincaid et al. 1975):
   * whitespace words (split-semantics: empty text = 1 word), sentence
   * terminators ('.', '!', '?' occurrences, floored at 1), and syllables
   * approximated as [aeiouyAEIOUY]+ vowel GROUPS per word floored at 1
   * per word — exactly the portable form
   *   greatest(regexp_count-style vowel-run count, 1) summed over tokens
   * the DuckDB oracle replays with regexp_extract_all. The grade itself
   * is left to the caller so the single IEEE expression shape is written
   * once, in the projection both engines evaluate identically.
   */
  def fkStats(u: org.apache.spark.unsafe.types.UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val n = s.length
    var words = 1
    var sents = 0
    var syll = 0L
    var wordHadGroup = false // current word contributed >= 1 group
    var inVowelRun = false
    var wordSyll = 0L
    var i = 0
    def vowel(c: Char): Boolean = c match {
      case 'a' | 'e' | 'i' | 'o' | 'u' | 'y' |
           'A' | 'E' | 'I' | 'O' | 'U' | 'Y' => true
      case _ => false
    }
    while (i <= n) {
      val c = if (i == n) ' ' else s.charAt(i)
      if (c == ' ') {
        syll += (if (wordHadGroup) wordSyll else 1L) // floor 1 per word
        if (i < n) words += 1
        wordHadGroup = false; inVowelRun = false; wordSyll = 0L
      } else {
        if (c == '.' || c == '!' || c == '?') sents += 1
        if (vowel(c)) {
          if (!inVowelRun) { wordSyll += 1; wordHadGroup = true }
          inVowelRun = true
        } else inVowelRun = false
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](words, math.max(sents, 1), syll))
  }

  /** Per-lane portable 32-bit token hash for the count-min sketch:
    * lane i = [[mix32]]((poly(token) + i·2654435761) mod 2^32) — the same
    * codepoint polynomial fold as [[portableHash32]], decorrelated across
    * lanes by the Knuth-constant offset (the same second-lane recipe as
    * `PortableHash.hash63`). Bounded operands ⇒ SQL-replayable. */
  def portableLaneHash32(s: String, lane: Int): Long = {
    var h = 2166136261L
    var ci = 0
    while (ci < s.length) {
      val cp = s.codePointAt(ci)
      h = (h * 1000003L + cp) & 0xFFFFFFFFL
      ci += Character.charCount(cp)
    }
    mix32((h + lane.toLong * 2654435761L) & 0xFFFFFFFFL)
  }

  /**
   * Count-min sketch update coordinates for every whitespace token of a
   * document (Cormode & Muthukrishnan 2005): `depth` packed Ints per
   * token, `lane·width + bucket(lane, token)`. Exploded + counted these
   * ARE the sketch — a (depth·width)-cell integer counter table with
   * map-side combine, replacing the unbounded exact vocabulary state.
   * One token walk; each token hashes once per lane.
   */
  def cmsPairs(u: org.apache.spark.unsafe.types.UTF8String,
               depth: Int, width: Int): ArrayData = {
    val s = u.toString
    val n = s.length
    var m = 1
    var i = 0
    while (i < n) { if (s.charAt(i) == ' ') m += 1; i += 1 }
    val out = new Array[Int](m * depth)
    var w = 0
    var tokStart = 0
    i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val tok = s.substring(tokStart, i)
        var l = 0
        while (l < depth) {
          out(w) = l * width + (portableLaneHash32(tok, l) % width).toInt
          w += 1
          l += 1
        }
        tokStart = i + 1
      }
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The `depth` packed sketch coordinates of ONE token (the probe side
    * of [[cmsPairs]]): estimate(token) = min over lanes of the sketch
    * cell at `lane·width + bucket`. */
  def cmsTokenCoords(u: org.apache.spark.unsafe.types.UTF8String,
                     depth: Int, width: Int): ArrayData = {
    val tok = u.toString
    val out = new Array[Int](depth)
    var l = 0
    while (l < depth) {
      out(l) = l * width + (portableLaneHash32(tok, l) % width).toInt
      l += 1
    }
    new GenericArrayData(out)
  }

  /**
   * Hashed multinomial Naive Bayes scoring in integer MICRO-NATS: for each
   * label ℓ, `priors(ℓ) + Σ_tokens weights(ℓ·numBuckets + bucket(token))`,
   * returning (argmax label, its score) with ties broken by label
   * ascending (labels are passed pre-sorted). The weights matrix is
   * Laplace-smoothed quantized logprobs — MODEL PARAMETERS (|labels| ×
   * numBuckets longs) riding the closure, never data. One token walk per
   * row: one [[portableHash32]] + |labels| integer adds per token, so
   * scoring cost is linear in corpus bytes — the model-based quality /
   * language filtering pass (fastText-style classifier, Joulin et al.
   * 2016; CCNet, Wenzek et al. 2020) every curated-corpus pipeline runs
   * over all 100 TB. Integer accumulation ⇒ merge-order-independent and
   * bit-identical to the SQL oracle's join+sum replay.
   */
  def nbScore(u: org.apache.spark.unsafe.types.UTF8String, numBuckets: Int,
              labels: Array[org.apache.spark.unsafe.types.UTF8String],
              priors: Array[Long], weights: Array[Long])
      : org.apache.spark.sql.catalyst.InternalRow = {
    val s = u.toString
    val n = s.length
    val L = labels.length
    val acc = java.util.Arrays.copyOf(priors, L)
    var tokStart = 0
    var i = 0
    while (i <= n) {
      if (i == n || s.charAt(i) == ' ') {
        val b = (portableHash32(s.substring(tokStart, i)) % numBuckets).toInt
        var l = 0
        while (l < L) { acc(l) += weights(l * numBuckets + b); l += 1 }
        tokStart = i + 1
      }
      i += 1
    }
    var best = 0
    var l = 1
    while (l < L) { if (acc(l) > acc(best)) best = l; l += 1 }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](labels(best), acc(best)))
  }
}
