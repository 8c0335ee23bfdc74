package graft.plans

import java.nio.charset.StandardCharsets.US_ASCII

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, XXH64, XxHash64Function}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: a fixed-charset string of a BIGINT row
  * index, drawn from xxhash64 — the volume record generator's `name` and
  * `address` columns.
  *
  * Character `i` is base-`m` digit `i % 10` of
  * `xxhash64(seed, tag + (i / 10 + 1), row)` and the length is
  * `minLen + pmod(xxhash64(seed, tag + "len", row), spread)`, where
  * `m = chars.length`. Spelled as SQL, that is one
  * `substr(chars, pmod(h div m^k, m) + 1, 1)` term per character: whole-
  * stage codegen inlined every term into one method too large for the
  * JIT. Here the xxhash64 prefix over (seed, tag) is computed once per
  * expression and each row costs one `hashLong` per 10 characters plus
  * one for the length, with the digits written straight into the output
  * bytes. Bit-identical to that SQL (`GeneratorSpec` pins it): the seed
  * hashes as an INT when it fits one (the SQL literal's type), `div`
  * truncates, then `pmod`.
  */
case class HashChars(child: Expression, kernel: HashChars.Kernel) extends UnaryExpression {

  override def dataType: DataType = StringType

  override def nullSafeEval(input: Any): Any = kernel(input.asInstanceOf[Long])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val k = ctx.addReferenceObj("kernel", kernel)
    defineCodeGen(ctx, ev, row => s"$k.apply($row)")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashChars {

  /** The per-(seed, tag) hash prefixes and the shared hot loop
    * (interpreted eval + generated code). */
  final case class Kernel(seed: Long, tag: String, chars: String, minLen: Int, spread: Int) {
    require(chars.nonEmpty && chars.forall(_ < 0x80), "chars must be non-empty ASCII")

    private val m = chars.length
    private val alphabet = chars.getBytes(US_ASCII)
    /** m^k for the 10 digits one 64-bit hash yields; overflow fails here. */
    private val pows = Array.iterate(1L, 10)(p => Math.multiplyExact(p, m.toLong))

    /** xxhash64's running hash after the seed, from its default 42; the
      * seed is an INT when it fits one, as its SQL literal is typed. */
    private val seedHash =
      if (seed.isValidInt) XxHash64Function.hash(seed.toInt, IntegerType, 42L)
      else XxHash64Function.hash(seed, LongType, 42L)
    /** ... and after (seed, tag). */
    private def prefix(t: String): Long =
      XxHash64Function.hash(UTF8String.fromString(t), StringType, seedHash)
    private val lenPrefix = prefix(s"${tag}len")
    private val charPrefixes =
      Array.tabulate((minLen + spread - 1 + 9) / 10)(j => prefix(s"$tag${j + 1}"))

    private def pmod(a: Long, n: Long): Long = { val r = a % n; if (r < 0) r + n else r }

    def apply(row: Long): UTF8String = {
      val len = minLen + pmod(XXH64.hashLong(row, lenPrefix), spread).toInt
      val out = new Array[Byte](len)
      var h = 0L
      var i = 0
      while (i < len) {
        val d = i % 10
        if (d == 0) h = XXH64.hashLong(row, charPrefixes(i / 10))
        out(i) = alphabet(pmod(h / pows(d), m).toInt)
        i += 1
      }
      UTF8String.fromBytes(out)
    }
  }

  /** Column API over a BIGINT row-index column. */
  def apply(row: Column, seed: Long, tag: String, chars: String,
            minLen: Int, spread: Int): Column =
    Bridge.column(HashChars(Bridge.expression(row), Kernel(seed, tag, chars, minLen, spread)))
}
