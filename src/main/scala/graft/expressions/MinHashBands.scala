package graft.expressions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** The WHOLE LSH band-key pipeline fused into one pass over the raw text
  * bytes: word-`n` shingles → `hashes` minhash components → `bands` band
  * keys. The hash `family` decides the per-shingle hash, the key type and
  * the band fold ([[MinHashFamily]]); the shingle walk and the min loop
  * are shared:
  *
  *  - Words are `split(text, " ", -1)` semantics — every 0x20 byte is a
  *    separator (space is a single byte in UTF-8, never part of a
  *    multi-byte sequence), consecutive/trailing separators yield empty
  *    words. A shingle of words i..i+n−1 joined by single spaces is then
  *    EXACTLY the byte range [start(i), end(i+n−1)) of the original
  *    text, so each shingle is hashed straight off the input buffer — no
  *    shingle strings, no per-shingle allocation (the composed form
  *    allocated the full shingle array per row: ~n× the text bytes in
  *    fresh strings, the dominant non-hash cost of the signature pass).
  *  - Component j is the minimum over shingles of the family's j-th
  *    component hash; band b's key folds components
  *    [b·hashes/bands, (b+1)·hashes/bands).
  *
  * Value-identical to the composed forms it replaced, because every hash
  * sees the same bytes (both pinned in NativeExprParitySpec):
  * `minhash_bands` ([[MinHashFamily.Md5Hex]], the DuckDB-parity scheme of
  * q31/q47/q92/q113) equals `word_shingles` → `minhash_sig` → per-band
  * `md5(concat(sig slices))`; `xxminhash_bands`
  * ([[MinHashFamily.XxHash64]], the scale path) equals explode(shingles)
  * → `min(xxhash64(sh, i))` per component → `xxhash64` fold per band.
  *
  * Null contract: null text → null; fewer than `n` words → null, so an
  * exploded band column yields no rows for those docs — the same docs a
  * `size(words(text)) >= n` filter would drop (no caller filters first).
  */
case class MinHashBands(child: Expression, hashes: Int, bands: Int, shingleN: Int,
                        family: MinHashFamily) extends UnaryExpression {
  require(hashes >= 1 && hashes <= family.maxHashes,
    s"${family.sqlName} supports 1 to ${family.maxHashes} components, got $hashes")
  require(bands >= 1 && hashes % bands == 0, "hashes must divide into bands")
  require(shingleN >= 1, "shingle width must be >= 1")

  override def dataType: DataType = ArrayType(family.keyType, containsNull = false)
  override def prettyName: String = family.sqlName

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"$prettyName requires a string input, got $t")
  }

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    MinHashBandsMath.bandKeys(input.asInstanceOf[UTF8String], hashes, bands, shingleN, family)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val f = s"graft.expressions.MinHashBandsMath$$.MODULE$$.bandKeys"
    val fam = ctx.addReferenceObj("family", family, classOf[MinHashFamily].getName)
    nullSafeCodeGen(ctx, ev, c => {
      s"""
         |${ev.value} = $f($c, $hashes, $bands, $shingleN, $fam);
         |${ev.isNull} = ${ev.value} == null;
       """.stripMargin
    })
  }

  override protected def withNewChildInternal(newChild: Expression): MinHashBands =
    copy(child = newChild)
}

/** A minhash family: how one shingle's bytes lower the per-component
  * minima, and how a band's minima fold into its key. Minima are longs
  * starting at `Long.MaxValue`. */
sealed abstract class MinHashFamily(val sqlName: String, val keyType: DataType,
                                    val maxHashes: Int) extends Serializable {
  /** Lowers `mins(j)`, for every j, to the shingle's component-j hash. */
  def update(bytes: Array[Byte], off: Int, len: Int, mins: Array[Long]): Unit

  /** The key of the band made of components [from, from + width). */
  def bandKey(mins: Array[Long], from: Int, width: Int): Any
}

object MinHashFamily {

  /** md5 slices, the DuckDB-mirrorable family: component j is the 16-bit
    * value of md5 bytes [2j, 2j+2) — one md5 per shingle serves all
    * components (md5 bits are independent, so disjoint slices act as
    * independent hash functions), and its numeric order equals the
    * lexicographic order of md5-hex chars [4j, 4j+4), so it is exactly
    * `min(substring(md5(sh), 1+4j, 4))`. A band's key is the md5 hex of
    * its components formatted %04x and concatenated — byte for byte what
    * `md5(concat(element_at(sig, …)…))` hashes. 8 components at most. */
  case object Md5Hex extends MinHashFamily("minhash_bands", StringType, 8) {
    private val digests = ThreadLocal.withInitial[MessageDigest](() =>
      MessageDigest.getInstance("MD5"))
    private val hexDigits = "0123456789abcdef".getBytes

    def update(bytes: Array[Byte], off: Int, len: Int, mins: Array[Long]): Unit = {
      val md = digests.get()
      md.reset()
      md.update(bytes, off, len)
      val digest = md.digest()
      var j = 0
      while (j < mins.length) {
        val v = ((digest(2 * j) & 0xff) << 8) | (digest(2 * j + 1) & 0xff)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }

    def bandKey(mins: Array[Long], from: Int, width: Int): Any = {
      val ascii = new Array[Byte](width * 4) // the %04x-formatted slice
      var j = 0
      while (j < width) {
        val v = mins(from + j).toInt
        ascii(4 * j) = hexDigits((v >>> 12) & 0xf)
        ascii(4 * j + 1) = hexDigits((v >>> 8) & 0xf)
        ascii(4 * j + 2) = hexDigits((v >>> 4) & 0xf)
        ascii(4 * j + 3) = hexDigits(v & 0xf)
        j += 1
      }
      val md = digests.get()
      md.reset()
      val digest = md.digest(ascii)
      val hex = new Array[Byte](32)
      var d = 0
      while (d < 16) {
        hex(2 * d) = hexDigits((digest(d) >>> 4) & 0xf)
        hex(2 * d + 1) = hexDigits(digest(d) & 0xf)
        d += 1
      }
      UTF8String.fromBytes(hex)
    }
  }

  /** xxhash64, the scale-path family, with Spark's builtin primitives
    * ([[org.apache.spark.sql.catalyst.expressions.XXH64]]):
    * `xxhash64(sh, lit(j))` folds seed 42 → the shingle's UTF-8 bytes →
    * hashInt(j), and its minimum is the SIGNED long minimum, exactly the
    * builtin `min(long)`; a band's key `xxhash64(h_0, …, h_k)` is seed 42
    * folded with hashLong per component. No component limit. */
  case object XxHash64 extends MinHashFamily("xxminhash_bands", LongType, Int.MaxValue) {
    private val Seed = 42L // Spark's xxhash64 default seed

    def update(bytes: Array[Byte], off: Int, len: Int, mins: Array[Long]): Unit = {
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off, len, Seed)
      var j = 0
      while (j < mins.length) {
        val v = XXH64.hashInt(j, h)
        if (v < mins(j)) mins(j) = v
        j += 1
      }
    }

    def bandKey(mins: Array[Long], from: Int, width: Int): Any = {
      var acc = Seed
      var j = 0
      while (j < width) { acc = XXH64.hashLong(mins(from + j), acc); j += 1 }
      acc
    }
  }
}

object MinHashBandsMath {

  /** Null when the text has fewer than `n` words (no shingles). */
  def bandKeys(text: UTF8String, hashes: Int, bands: Int, n: Int,
               family: MinHashFamily): ArrayData = {
    val bytes = text.getBytes
    // word boundaries: every 0x20 separates two words (split(" ", -1)
    // semantics — empty words kept)
    var nWords = 1
    var i = 0
    while (i < bytes.length) { if (bytes(i) == ' ') nWords += 1; i += 1 }
    if (nWords < n) return null
    val starts = new Array[Int](nWords)
    val ends = new Array[Int](nWords)
    var w = 0
    starts(0) = 0
    i = 0
    while (i < bytes.length) {
      if (bytes(i) == ' ') { ends(w) = i; w += 1; starts(w) = i + 1 }
      i += 1
    }
    ends(w) = bytes.length

    val mins = Array.fill(hashes)(Long.MaxValue)
    var s = 0
    val nShingles = nWords - n + 1
    while (s < nShingles) {
      val off = starts(s)
      family.update(bytes, off, ends(s + n - 1) - off, mins)
      s += 1
    }

    val perBand = hashes / bands
    val out = new Array[Any](bands)
    var b = 0
    while (b < bands) {
      out(b) = family.bandKey(mins, b * perBand, perBand)
      b += 1
    }
    new GenericArrayData(out)
  }
}

object MinHashBands {
  def of(text: Column, hashes: Int, bands: Int, shingleN: Int, family: MinHashFamily): Column =
    org.apache.spark.sql.graft.Bridge.column(MinHashBands(
      org.apache.spark.sql.graft.Bridge.expression(text), hashes, bands, shingleN, family))
}
