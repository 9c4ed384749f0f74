package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen md5 primitives for the hashing hot paths (r12
  * optimization round, guide §4: eliminate interpreted expression chains
  * in per-token / per-position loops).
  *
  * The library's determinism contract pins md5 (identical lowercase hex in
  * Spark and DuckDB), and the idiomatic formulation
  * `CAST(conv(substring(md5(x), a, n), 16, 10) AS BIGINT)` appears at
  * token/position grain in the MinHash/OPH/SimHash/CDC paths. Per
  * evaluation that chain pays: a fresh `MessageDigest` instance (Spark's
  * `md5` delegates to commons-codec `DigestUtils.md5Hex`, which constructs
  * one per call), a 32-char hex string allocation, a `substring` slice,
  * and a string→decimal parse — measured ≈1.4 µs/eval on the bench host
  * (the 7-extra-hashes delta between `llm_dedup_minhash` and
  * `llm_dedup_oph` over 270 k token rows). These expressions compute the
  * identical VALUES (DigestSpec pins equality against the builtin chain on
  * adversarial inputs) from a thread-local digest with no intermediate
  * strings, and participate in whole-stage codegen.
  *
  * Exactness, not approximation: every function here returns bit-identical
  * results to the builtin formulation it replaces, so oracle hashes are
  * unaffected by construction.
  */
object HashOps {

  private val tlMd5 = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".getBytes

  /** Raw md5 digest via the shared thread-local instance — for JVM-side
    * hash helpers (CountMin/Kmv Aggregators) that previously constructed
    * a MessageDigest and formatted hex strings per row. */
  def md5(bytes: Array[Byte]): Array[Byte] = {
    val d = tlMd5.get()
    d.reset()
    d.digest(bytes)
  }

  /** Value of hex chars [start, start+len) (1-based, like `substring`) of
    * md5's 32-char hex, as the unsigned decimal long `conv(…,16,10)`
    * yields. Requires 1 ≤ start and start+len−1 ≤ 32 and len ≤ 15
    * (enforced at registration), so the value always fits a positive
    * long. Called from generated code. */
  def md5Bits(s: UTF8String, start: Int, len: Int): Long = {
    val d = tlMd5.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L
    var j = start - 1 // 0-based nibble index
    val end = start - 1 + len
    while (j < end) {
      val b = dig(j >> 1)
      val nib = if ((j & 1) == 0) (b >> 4) & 0xf else b & 0xf
      v = (v << 4) | nib
      j += 1
    }
    v
  }

  /** The 8 seeded MinHash token hashes of [[graft.queries.Dedup.bandKeys]]:
    * array(md5('0:'+t), …, md5('7:'+t)) as lowercase hex — identical
    * strings to the builtin `md5(concat(lit("i:"), col("token")))` chain.
    * One thread-local digest, prefix bytes written directly, hex encoded
    * without intermediate String. Called from generated code. */
  def mh8(s: UTF8String): ArrayData = {
    val d = tlMd5.get()
    val tok = s.getBytes
    val out = new Array[AnyRef](8)
    var i = 0
    while (i < 8) {
      d.reset()
      d.update(('0' + i).toByte)
      d.update(':'.toByte)
      d.update(tok)
      val dig = d.digest()
      val hex = new Array[Byte](32)
      var k = 0
      while (k < 16) {
        hex(2 * k) = hexChars((dig(k) >> 4) & 0xf)
        hex(2 * k + 1) = hexChars(dig(k) & 0xf)
        k += 1
      }
      out(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    new GenericArrayData(out)
  }

  /** The four 32-bit words of md5(s) as unsigned longs — word m equals
    * `CAST(conv(substring(md5(s), 8m+1, 8), 16, 10) AS BIGINT)` (hex chars
    * [8m+1, 8m+8] = digest bytes 4m..4m+3, big-endian unsigned). One
    * thread-local digest, no hex string — for call sites that consume
    * SEVERAL windows of one digest (agg_bootstrap_ci reads all four).
    * Called from generated code. */
  def md5Words(s: UTF8String): ArrayData = {
    val d = tlMd5.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    val out = new Array[Long](4)
    var m = 0
    while (m < 4) {
      var v = 0L
      var j = 4 * m
      while (j < 4 * m + 4) { v = (v << 8) | (dig(j) & 0xffL); j += 1 }
      out(m) = v
      m += 1
    }
    new GenericArrayData(out)
  }

  /** CDC cut positions for [[graft.queries.Llm.cdcChunks]]: the 1-based
    * CHARACTER positions i in [2, len−7] where the 60-bit prefix of
    * md5(utf8(substring(text, i, 8))) ≡ 0 (mod 32). Identical to the HOF
    * `filter(sequence(2, len-7), i -> conv(substring(md5(substring(text,
    * i, 8)), 1, 15), 16, 10) % 32 = 0)` chain: value mod 32 depends only
    * on hex chars 14–15 (16² ≡ 0 mod 32), i.e. bits (b6 & 1) and
    * (b7 >>> 4) of the digest. ASCII inputs hash byte slices of the
    * UTF8String directly (no per-position substring); multi-byte inputs
    * fall back to character-exact substring windows. Called from
    * generated code. */
  def cdcCuts(s: UTF8String): ArrayData = {
    val nBytes = s.numBytes()
    val nChars = s.numChars()
    if (nChars < 9) return new GenericArrayData(Array.emptyIntArray)
    val d = tlMd5.get()
    val cuts = new java.util.ArrayList[Integer]()
    if (nBytes == nChars) { // pure ASCII: char windows are byte windows
      val bytes = s.getBytes
      var i = 2 // 1-based start position of the 8-char window
      val last = nChars - 7
      while (i <= last) {
        d.reset()
        d.update(bytes, i - 1, 8)
        val dig = d.digest()
        if ((dig(6) & 1) == 0 && (dig(7) & 0xf0) == 0) cuts.add(i)
        i += 1
      }
    } else {
      val str = s.toString
      // map char positions through code points is unnecessary here:
      // UTF8String.numChars counts code points, String.substring counts
      // UTF-16 units — walk the string by code point to stay exact
      val cpOffsets = new Array[Int](nChars + 1)
      var ci = 0
      var off = 0
      while (ci < nChars) { cpOffsets(ci) = off; off = str.offsetByCodePoints(off, 1); ci += 1 }
      cpOffsets(nChars) = str.length
      var i = 2
      val last = nChars - 7
      while (i <= last) {
        val win = str.substring(cpOffsets(i - 1), cpOffsets(i + 7))
        d.reset()
        val dig = d.digest(win.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if ((dig(6) & 1) == 0 && (dig(7) & 0xf0) == 0) cuts.add(i)
        i += 1
      }
    }
    val arr = new Array[Int](cuts.size)
    var k = 0
    while (k < arr.length) { arr(k) = cuts.get(k); k += 1 }
    new GenericArrayData(arr)
  }

  /** Expression builders (arity/foldability checks), the hash entries of
    * [[Kernels]]. */
  def md5BitsExpr(children: Seq[Expression]): Md5Bits = {
    require(children.size == 3,
      s"md5_bits requires exactly 3 arguments, got ${children.size}")
    val (start, len) = (children(1), children(2)) match {
      case (Literal(a: Int, IntegerType), Literal(b: Int, IntegerType)) => (a, b)
      case _ => throw new IllegalArgumentException(
        "md5_bits requires literal int start/len arguments")
    }
    require(start >= 1 && len >= 1 && len <= 15 && start + len - 1 <= 32,
      s"md5_bits window [$start, len $len] must lie in the 32-char hex and fit a long")
    Md5Bits(children.head, start, len)
  }
  def mh8Expr(children: Seq[Expression]): Mh8 = {
    require(children.size == 1, s"mh8_md5 requires exactly 1 argument, got ${children.size}")
    Mh8(children.head)
  }
  def cdcCutsExpr(children: Seq[Expression]): CdcCuts = {
    require(children.size == 1, s"cdc_cuts requires exactly 1 argument, got ${children.size}")
    CdcCuts(children.head)
  }
  def md5WordsExpr(children: Seq[Expression]): Md5Words = {
    require(children.size == 1, s"md5_words requires exactly 1 argument, got ${children.size}")
    Md5Words(children.head)
  }
}

/** `md5_bits(str, start, len)` — see [[HashOps.md5Bits]]. start/len are
  * baked in at construction (registration requires literals); the child
  * carried second/third in SQL form only. */
case class Md5Bits(child: Expression, start: Int, len: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"md5_bits requires a string argument, got $t")
  }
  override def dataType: DataType = LongType
  override def prettyName: String = "md5_bits"
  override def nullSafeEval(a: Any): Any =
    HashOps.md5Bits(a.asInstanceOf[UTF8String], start, len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.md5Bits($c, $start, $len)")
  override protected def withNewChildInternal(newChild: Expression): Md5Bits =
    copy(child = newChild)
}

/** `mh8_md5(str)` — see [[HashOps.mh8]]. */
case class Mh8(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"mh8_md5 requires a string argument, got $t")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "mh8_md5"
  override def nullSafeEval(a: Any): Any = HashOps.mh8(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.mh8($c)")
  override protected def withNewChildInternal(newChild: Expression): Mh8 =
    copy(child = newChild)
}

/** `md5_words(str)` — see [[HashOps.md5Words]]. */
case class Md5Words(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"md5_words requires a string argument, got $t")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "md5_words"
  override def nullSafeEval(a: Any): Any = HashOps.md5Words(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.md5Words($c)")
  override protected def withNewChildInternal(newChild: Expression): Md5Words =
    copy(child = newChild)
}

/** `cdc_cuts(str)` — see [[HashOps.cdcCuts]]. */
case class CdcCuts(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"cdc_cuts requires a string argument, got $t")
  }
  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)
  override def prettyName: String = "cdc_cuts"
  override def nullSafeEval(a: Any): Any = HashOps.cdcCuts(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.HashOps.cdcCuts($c)")
  override protected def withNewChildInternal(newChild: Expression): CdcCuts =
    copy(child = newChild)
}
