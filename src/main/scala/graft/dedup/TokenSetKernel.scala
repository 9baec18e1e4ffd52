package graft.dedup

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel: reference tokenize/filter/shingle/dedup/sort in one
  * compiled pass (delegates to [[Tokenize.tokenSetScala]], which the test
  * suite holds equal to both the Column-built-ins version and the oracle). */
object TokenSetKernel {
  def eval(s: UTF8String, k: Int): ArrayData = {
    val toks = Tokenize.tokenSetScala(s.toString, k)
    val out = new Array[Any](toks.length)
    var i = 0
    while (i < toks.length) { out(i) = UTF8String.fromString(toks(i)); i += 1 }
    new GenericArrayData(out)
  }
}

/** Compiled tokenizer ([[KernelCall.static]] over [[TokenSetKernel]]). The
  * equivalent chain of built-ins (regexp_extract_all -> higher-order filter
  * with 3 regex predicates and a 527-element array scan -> shingle transform
  * -> distinct -> sort) is NOT whole-stage-codegen'd (higher-order functions
  * evaluate interpreted, each lambda predicate allocating per element); this
  * single compiled kernel with a precompiled regex and a hash-set stopword
  * probe does the same work in one pass and stays inside codegen.
  */
object TokenSet {
  def apply(c: Column, k: Int): Column =
    KernelCall.static(TokenSetKernel, "eval", ArrayType(StringType, containsNull = false), Seq(c -> StringType), Seq(k))
}

/** Static kernel for the SIMPLE-WORD k-gram set (the text-analysis family's
  * tokenizer, not the reference one): Spark-exact lowercase
  * (UTF8String.toLowerCase — the same locale-independent mapping `lower()`
  * uses, including its non-ASCII-to-ASCII cases like Kelvin K -> k), ASCII
  * `[a-z0-9]+` runs, space-joined k-grams, first-occurrence dedup — one
  * compiled pass replacing regexp_extract_all + interpreted higher-order
  * transform + array_distinct (the round-4 q16/q20 hot path).
  *
  * `padShort`: with fewer than k words, emit the single space-joined word
  * list (the fingerprint fallback) instead of an empty set. */
object WordGramKernel {
  def eval(s0: UTF8String, k: Int, padShort: Boolean): ArrayData = {
    val (s, offs) = WordScan.scan(s0)
    val nWords = offs.length / 2
    val words = new Array[String](nWords)
    var wi = 0
    while (wi < nWords) { words(wi) = s.substring(offs(2 * wi), offs(2 * wi + 1)); wi += 1 }
    val out = new java.util.LinkedHashSet[String]()
    if (k <= 1) words.foreach(out.add)
    else if (words.length >= k) {
      val sb = new java.lang.StringBuilder
      var w = 0
      while (w + k <= words.length) {
        sb.setLength(0)
        var j = 0
        while (j < k) { if (j > 0) sb.append(' '); sb.append(words(w + j)); j += 1 }
        out.add(sb.toString)
        w += 1
      }
    } else if (padShort) out.add(words.mkString(" "))
    val arr = new Array[Any](out.size)
    val it = out.iterator()
    var e = 0
    while (it.hasNext) { arr(e) = UTF8String.fromString(it.next()); e += 1 }
    new GenericArrayData(arr)
  }
}

/** Compiled simple-word k-gram set — see [[WordGramKernel]]. */
object WordGramSet {
  def apply(c: Column, k: Int, padShort: Boolean = false): Column =
    KernelCall.static(WordGramKernel, "eval", ArrayType(StringType, containsNull = false), Seq(c -> StringType),
      Seq(k, padShort))
}

/** THE simple-word scanner, shared by [[WordGramKernel]] and
  * [[MinGramMd5Kernel]] so the two kernels (whose outputs the q16 gram path
  * and the q20 fingerprint path — and their SQL oracles — must keep
  * byte-identical) cannot drift apart: Spark-exact lowercase
  * (UTF8String.toLowerCase) then maximal ASCII `[a-z0-9]+` runs, returned as
  * the lowercased string plus flat [start0,end0,start1,end1,...] offsets. */
private[dedup] object WordScan {
  def scan(s0: UTF8String): (String, Array[Int]) = {
    val s = s0.toLowerCase.toString
    val n = s.length
    // primitive growable buffer — this runs per ROW inside compiled kernels,
    // so a boxed ArrayBuffer[Int] would re-introduce the per-word allocation
    // the kernels exist to avoid
    var offs = new Array[Int](16)
    var m = 0
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        var j = i + 1
        while (j < n && {
          val d = s.charAt(j); (d >= 'a' && d <= 'z') || (d >= '0' && d <= '9')
        }) j += 1
        if (m + 2 > offs.length) offs = java.util.Arrays.copyOf(offs, offs.length * 2)
        offs(m) = i; offs(m + 1) = j; m += 2
        i = j
      } else i += 1
    }
    (s, if (m == offs.length) offs else java.util.Arrays.copyOf(offs, m))
  }
}

/** Static kernel: min(md5(gram)) over the simple-word k-grams of a document
  * (the q20 content fingerprint) in ONE compiled pass. Equivalent to
  * `explode(WordGramSet(text, k, padShort=true))` -> `groupBy(min(md5(g)))`
  * but per-row: no gram-array materialization, no explode fan-out, and — the
  * real win — no shuffle/agg (the old plan exchanged every gram row to
  * regroup by doc).
  *
  * Digest-order equivalence: Spark's `md5()` emits lowercase hex, and min()
  * on strings is unsigned-byte lexicographic. Hex is an order-preserving,
  * fixed-length encoding of the 16 digest bytes ('0'-'9' < 'a'-'f' in ASCII
  * tracks nibble order), so comparing RAW digests unsigned-lexicographically
  * picks the same winner; only the winner is hex-encoded. min() is
  * dedup-blind, so WordGramSet's first-occurrence dedup is irrelevant here.
  * padShort fallback (< k words, possibly zero): digest the single
  * space-joined word list, exactly as WordGramSet(padShort=true) emits. */
object MinGramMd5Kernel {
  private val tlMd = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val HEX = "0123456789abcdef".toCharArray
  private val SPACE = ' '.toByte

  def eval(s0: UTF8String, k: Int): UTF8String = {
    // word scan shared with WordGramKernel via WordScan (the two kernels
    // must agree on what a "word" is, byte for byte)
    val (s, offs) = WordScan.scan(s0)
    val nWords = offs.length / 2
    val words = new Array[Array[Byte]](nWords)
    var wi = 0
    while (wi < nWords) {
      val start = offs(2 * wi)
      val end = offs(2 * wi + 1)
      // runs are pure ASCII by construction: byte-per-char encode
      val w = new Array[Byte](end - start)
      var b = 0
      while (b < w.length) { w(b) = s.charAt(start + b).toByte; b += 1 }
      words(wi) = w
      wi += 1
    }
    val md = tlMd.get()
    var best: Array[Byte] = null
    def consider(d: Array[Byte]): Unit = {
      if (best == null) best = d
      else {
        var p = 0
        var cmp = 0
        while (p < 16 && cmp == 0) {
          cmp = (d(p) & 0xff) - (best(p) & 0xff); p += 1
        }
        if (cmp < 0) best = d
      }
    }
    val kk = math.max(k, 1)
    if (words.length >= kk) {
      var w = 0
      while (w + kk <= words.length) {
        md.reset()
        var j = 0
        while (j < kk) {
          if (j > 0) md.update(SPACE)
          md.update(words(w + j))
          j += 1
        }
        consider(md.digest())
        w += 1
      }
    } else if (k >= 2) {
      // padShort fallback: one gram = space-joined words (maybe empty).
      // WordGramSet only consults padShort for k >= 2; at k <= 1 a wordless
      // doc has an EMPTY gram set, which explode drops — mirrored here by
      // the null return below.
      md.reset()
      var j = 0
      while (j < words.length) {
        if (j > 0) md.update(SPACE)
        md.update(words(j))
        j += 1
      }
      consider(md.digest())
    }
    if (best == null) return null
    val hex = new Array[Byte](32)
    var p = 0
    while (p < 16) {
      hex(2 * p) = HEX((best(p) >> 4) & 0xf).toByte
      hex(2 * p + 1) = HEX(best(p) & 0xf).toByte
      p += 1
    }
    UTF8String.fromBytes(hex)
  }
}

/** Compiled single-pass document fingerprint — see [[MinGramMd5Kernel]].
  * NULL also for a NON-null wordless doc at k <= 1 (empty gram set —
  * mirrors explode(WordGramSet) dropping the row), not just null input. */
object MinGramMd5 {
  def apply(c: Column, k: Int): Column =
    KernelCall.static(MinGramMd5Kernel, "eval", StringType, Seq(c -> StringType), Seq(k), nullableResult = true)
}
