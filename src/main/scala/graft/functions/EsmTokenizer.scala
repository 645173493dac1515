package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Pure-Scala ESM-2 tokenizer (reference: `process_to_curated.py:22-29,85`,
  * SURVEY.md §2.7 F2).
  *
  * The HF ESM-2 tokenizer (`facebook/esm2_t6_8M_UR50D`) is character-level
  * over a fixed 33-token vocabulary, so it is fully implementable offline:
  * no model download, no Python. Encoding of a sequence `s` with
  * `padding="max_length", truncation=True, max_length=L`:
  *
  *   `[<cls>] ++ s.take(L-2).map(vocab | <unk>) ++ [<eos>]`, right-padded
  *   with `<pad>` to exactly L.
  *
  * The UDF is a codegen boundary (SURVEY.md §4) — queries isolate it in its
  * own projection; everything downstream operates on the
  * `ArrayType(IntegerType)` column (F3: the curated zone keeps the `tokens`
  * array, where the reference's scalar `token_i` column is `tokens[i]`).
  */
object EsmTokenizer {
  val ClsId  = 0
  val PadId  = 1
  val EosId  = 2
  val UnkId  = 3
  val MaskId = 32

  /** ESM-2 vocab order (public): specials, 25 amino-acid letters, '.', '-',
    * '<null_1>', '<mask>'.
    */
  val VocabTokens: Vector[String] = Vector(
    "<cls>", "<pad>", "<eos>", "<unk>",
    "L", "A", "G", "V", "S", "E", "R", "T", "I", "D", "P", "K", "Q", "N",
    "F", "Y", "M", "H", "W", "C", "X", "B", "U", "Z", "O", ".", "-",
    "<null_1>", "<mask>")

  /** char → token id for the single-character tokens. */
  val CharVocab: Map[Char, Int] =
    VocabTokens.zipWithIndex.collect { case (t, i) if t.length == 1 => t.head -> i }.toMap

  def tokenId(c: Char): Int = CharVocab.getOrElse(c, UnkId)

  /** Reference default `max_length` (`process_to_curated.py:22`). */
  val DefaultMaxLength = 1024

  def tokenize(seq: String, maxLength: Int): Array[Int] = {
    require(maxLength >= 2, s"maxLength must fit <cls>+<eos>, got $maxLength")
    // iterate CODEPOINTS, not UTF-16 chars: the HF tokenizer is per-
    // codepoint, so a supplementary-plane char must yield ONE <unk>, not two
    val body = seq.codePoints().limit(maxLength - 2).toArray
      .map(cp => if (Character.isBmpCodePoint(cp)) tokenId(cp.toChar) else UnkId)
    val out  = new Array[Int](maxLength)
    java.util.Arrays.fill(out, PadId)
    out(0) = ClsId
    System.arraycopy(body, 0, out, 1, body.length)
    out(body.length + 1) = EosId
    out
  }

  def tokenizeUdf(maxLength: Int = DefaultMaxLength): UserDefinedFunction =
    udf((s: String) => if (s == null) null else tokenize(s, maxLength))

  /** Codegen-facing variant: packs the token ids straight into an
    * `UnsafeArrayData` (no boxing, no Row ser/de — unlike the UDF path).
    */
  def tokenizeArrayData(s: String, maxLength: Int): org.apache.spark.sql.catalyst.expressions.UnsafeArrayData =
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(tokenize(s, maxLength))

  /** Column API over the native [[graft.plans.EsmTokenizeExpr]]. */
  def tokenizeCol(c: org.apache.spark.sql.Column, maxLength: Int = DefaultMaxLength): org.apache.spark.sql.Column =
    graft.plans.EsmTokenizeExpr(c, maxLength)
}
