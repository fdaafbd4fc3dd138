package graft.expressions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.{lower, regexp_replace, trim}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Fused char-shingle hashing: one tight pass from a NORMALIZED text string
  * to the sorted (optionally distinct) array of per-shingle 64-bit hashes —
  * the value-identical replacement for the engine's hottest projection
  * idiom,
  *
  *   sort_array(array_distinct(transform(
  *     TextFunctions.charShingles(text, n), h)))
  *
  * whose composed form pays three interpreted higher-order passes and a
  * per-shingle UTF8String allocation (`transform` is a CodegenFallback
  * eval per element; round-14 thread-dump sampling showed
  * `ArrayTransform.eval`/`Substring` as the top remaining executor-CPU
  * frames in the service tier after the shuffle-writer fix).
  *
  * Value equality with the composed idiom, by construction:
  *
  *   - the window over code points [i, i+n) covers EXACTLY the bytes
  *     `substr(i+1, n)` returns (UTF8String.substringSQL slices on the
  *     same code-point boundaries this walk computes);
  *   - [[ShingleHash.XxHash64]] hashes those bytes with seed 42 — the same
  *     `XXH64.hashUnsafeBytes` call `xxhash64(string)` performs;
  *   - [[ShingleHash.Md5Slice]] reproduces
  *     `conv(substring(md5(s), 1, 13), 16, 10).cast("long")`
  *     (graft.functions.Kmv.hash): the first 13 hex chars of the MD5 are
  *     the digest's first 52 bits, read big-endian;
  *   - sort-then-dedupe over longs ≡ array_distinct-then-sort_array
  *     (both yield the ascending distinct multiset; with
  *     `distinct = false` the plain sorted multiset ≡ sort_array alone).
  *
  * The normalization half of charShingles (trim → \s+ collapse → lower)
  * stays OUTSIDE as the stock codegen'd expressions — see
  * [[ShingleHashes.hashedCharShingles]] — so this expression re-implements
  * no string semantics beyond the window walk.
  *
  * Codegen: the expression participates in whole-stage codegen via a
  * direct call to [[compute]] on the referenced instance (the r15 upgrade;
  * the r14 form was CodegenFallback, which put one interpreted-eval
  * boundary — InternalRow boxing plus a broken codegen span — on every
  * row of the hottest projection in the engine).
  */
case class ShingleHashesExpr(
    child: Expression,
    n: Int,
    distinct: Boolean,
    hash: ShingleHash)
    extends UnaryExpression {

  require(n > 0 && n <= 1024, s"shingle width out of range: $n")

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    child.dataType match {
      case StringType =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case other =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
          s"shingle_hashes requires string, got ${other.catalogString}")
    }

  override def nullSafeEval(input: Any): Any =
    compute(input.asInstanceOf[UTF8String])

  /** The per-row kernel — public so generated code can call it directly
    * (doGenCode references this instance; no InternalRow boxing, and the
    * surrounding whole-stage-codegen span stays fused).
    */
  def compute(s: UTF8String): GenericArrayData = {
    val base = s.getBaseObject
    val off = s.getBaseOffset
    val nBytes = s.numBytes
    // one pass over the bytes: code-point start offsets (ASCII-only texts
    // take the branchless fast path of numBytesForFirstByte)
    var nChars = 0
    var i = 0
    val offs = new Array[Int](nBytes + 1)
    while (i < nBytes) {
      offs(nChars) = i
      i += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i))
      nChars += 1
    }
    offs(nChars) = nBytes
    if (nChars < n) return new GenericArrayData(Array.emptyLongArray)
    val nOut = nChars - n + 1
    val out = new Array[Long](nOut)
    hash match {
      case ShingleHash.Md5Slice =>
        // per-task (thread) digest instance: getInstance("MD5") per row was
        // a provider lookup + digest allocation on every md5-slice row
        // (guide §4.5 — initialise heavyweight state once, not per row)
        val md = ShingleHashes.md5.get()
        // widest window in bytes bounds the copy buffer (windows share it)
        var maxLen = 0
        var w = 0
        while (w < nOut) {
          val len = offs(w + n) - offs(w)
          if (len > maxLen) maxLen = len
          w += 1
        }
        val buf = new Array[Byte](maxLen)
        w = 0
        while (w < nOut) {
          val start = offs(w)
          val len = offs(w + n) - start
          Platform.copyMemory(base, off + start, buf, Platform.BYTE_ARRAY_OFFSET, len)
          md.reset()
          md.update(buf, 0, len)
          val d = md.digest()
          // first 13 hex chars = bytes 0..5 plus the high nibble of byte 6,
          // read big-endian — exactly conv(substring(hex, 1, 13), 16, 10)
          var v = 0L
          var b = 0
          while (b < 6) { v = (v << 8) | (d(b) & 0xffL); b += 1 }
          out(w) = (v << 4) | ((d(6) & 0xf0L) >>> 4)
          w += 1
        }
      case ShingleHash.XxHash64 =>
        var w = 0
        while (w < nOut) {
          val start = offs(w)
          out(w) = XXH64.hashUnsafeBytes(base, off + start, offs(w + n) - start, 42L)
          w += 1
        }
    }
    java.util.Arrays.sort(out)
    if (!distinct) return new GenericArrayData(out)
    var kept = 0
    i = 0
    while (i < nOut) {
      if (i == 0 || out(i) != out(i - 1)) { out(kept) = out(i); kept += 1 }
      i += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, kept))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("shingleHashes", this, classOf[ShingleHashesExpr].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.compute($c);")
  }

  override def prettyName: String = "shingle_hashes"
  override protected def withNewChildInternal(newChild: Expression): ShingleHashesExpr =
    copy(child = newChild)
}

/** The gram → 64-bit-hash convention of a shingle-hash array — part of any
  * stored index's contract, like the shingle width (every slice and every
  * probe of one index must use one convention). Two cases:
  *
  *   - [[ShingleHash.XxHash64]] — `xxhash64(shingle)` (seed 42), the
  *     default and the fastest;
  *   - [[ShingleHash.Md5Slice]] — the portable 52-bit md5 slice
  *     `conv(substring(md5(shingle), 1, 13), 16, 10)` (graft.functions.Kmv
  *     .hash), for element sets a second engine (the DuckDB oracle) must
  *     re-derive.
  *
  * `name` is the stable form stored in persisted ledgers;
  * [[ShingleHash.fromName]] reads it back and fails loud on anything else.
  */
sealed trait ShingleHash { def name: String }

object ShingleHash {
  case object XxHash64 extends ShingleHash { val name = "xxhash64" }
  case object Md5Slice extends ShingleHash { val name = "md5_slice" }

  private val all: Seq[ShingleHash] = Seq(XxHash64, Md5Slice)

  def fromName(name: String): ShingleHash =
    all.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unknown shingle hash convention '$name' — expected one of " +
        s"${all.map(_.name).mkString(", ")}; a state persisted before the closed " +
        "hash type stored expression text here and must be rebuilt"))
}

object ShingleHashes {
  import org.apache.spark.sql.graftbridge.ColumnBridge.{column => toColumn, expression => toExpr}

  /** One MessageDigest per thread (= per task slot), reset per shingle —
    * the MD5 digest object is stateful but reusable; sharing it across the
    * rows a task evaluates removes the per-row provider lookup.
    */
  private[expressions] val md5: ThreadLocal[java.security.MessageDigest] =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** Sorted (distinct) shingle-hash array straight from raw text — fuses
    * `TextFunctions.charShingles(text, n)` + per-element hash + distinct +
    * sort into one expression over the SAME normalization chain
    * (trim → whitespace collapse → lower, stock codegen'd expressions)
    * under the [[ShingleHash]] convention `hash`. Null text → null, text
    * shorter than n → empty array — the charShingles contract.
    */
  def hashedCharShingles(
      text: Column, n: Int, distinct: Boolean = true,
      hash: ShingleHash = ShingleHash.XxHash64): Column = {
    val norm = lower(regexp_replace(trim(text), "\\s+", " "))
    // null/short-text semantics match the composed idiom without a when()
    // wrapper (which would evaluate the regex chain twice per row): null
    // text → null via UnaryExpression null-intolerance (= transform(null)),
    // text shorter than n → empty array inside the eval (= the
    // charShingles length guard)
    toColumn(ShingleHashesExpr(toExpr(norm), n, distinct, hash))
  }
}
