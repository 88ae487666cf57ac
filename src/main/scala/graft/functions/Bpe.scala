package graft.functions

import org.apache.spark.sql.{Column, GraftExpressionBridge}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Subword tokenization — the step that turns packed word streams into
  * trainable token-id shards (reference counterpart: the curation
  * pipelines the reference feeds; its own tree stops at word counts,
  * so this is part of the LLM-pipeline layer, not a port).
  *
  * Model: a VOCABULARY of subword pieces (BPE merges flattened to their
  * surface strings + the single-character alphabet), applied by greedy
  * longest-match from each position — the standard inference-time
  * shortcut for BPE/WordPiece-family vocabularies (Sennrich et al. 2016
  * learn merges; SentencePiece/WordPiece apply longest-match). Applying
  * is a pure per-row function of (text, vocab): map-side, zero shuffle,
  * embarrassingly parallel at 100 TB. The vocab ships inside the plan
  * (≤ a few hundred KB for a 50k vocab) — the broadcast-small-side
  * pattern, no join needed because the lookup is a per-char trie walk,
  * not an equi-key.
  *
  * Id contract (fixed, engine-portable, so a DuckDB oracle can replay
  * it): id 0 is reserved `<unk>`; pieces are numbered 1.. in vocab
  * order. A position matching no piece emits 0 and advances one char —
  * encoding never fails and never stalls. Words are the (normalized)
  * space-separated tokens; spaces themselves produce no id.
  */
object Bpe {

  /** A subword vocabulary. `pieces(i)` has token id `i + 1`; id 0 is
    * `<unk>`. Pieces must be non-empty, space-free and distinct (two
    * equal pieces would make longest-match ids ambiguous).
    */
  final case class Vocab(pieces: IndexedSeq[String]) {
    require(pieces.nonEmpty, "empty vocab")
    require(pieces.forall(p => p.nonEmpty && !p.contains(' ')),
      "pieces must be non-empty and space-free")
    require(pieces.distinct.size == pieces.size, "duplicate pieces")
  }

  /** Encode normalized text to token ids (`array<int>`), greedy
    * longest-match per word. Input contract: the caller passes
    * [[TextAnalysis.normalized]] text (single spaces); this mirrors the
    * whitespace tokenization every other gate counts, so the two
    * tokenizations segment words identically.
    */
  def encode(normText: Column, vocab: Vocab): Column =
    GraftExpressionBridge.column(
      BpeEncodeExpr(GraftExpressionBridge.expression(normText), vocab.pieces))

  /** Fixed demonstration vocabulary for oracle-checked queries: the
    * lowercase alphanumeric alphabet + common punctuation + a hand
    * -picked set of frequent English merges. Deterministic and embedded
    * in BOTH the Spark plan and the DuckDB oracle SQL (via
    * [[vocabValuesSql]] generated from this same object), so the two
    * sides cannot drift.
    */
  val demoVocab: Vocab = Vocab(
    (('a' to 'z') ++ ('0' to '9')).map(_.toString).toIndexedSeq ++
      IndexedSeq(".", ",", "-", "_", "'", ":", ";", "!", "?", "(", ")", "/") ++
      IndexedSeq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
        "or", "es", "st", "ar", "te", "ng", "al", "it", "is", "to", "ou",
        "ed", "ing", "ion", "ent", "the", "and", "tion"))

  /** The vocabulary as a SQL `VALUES` body `(id, piece, plen), …` for
    * the oracle's longest-match replay (ids match [[encode]]'s: 1-based
    * vocab order; the oracle expresses `<unk>` as the COALESCE default).
    */
  def vocabValuesSql(vocab: Vocab): String =
    vocab.pieces.zipWithIndex.map { case (p, i) =>
      s"(${i + 1}, '${p.replace("'", "''")}', ${p.length})"
    }.mkString(", ")
}

/** Per-row greedy longest-match tokenizer kernel shared by the
  * interpreted and codegen paths of [[BpeEncodeExpr]]. The trie is
  * plain parallel arrays over sorted (firstChar, piece) buckets — built
  * once per executor (the expression ships only the piece strings) and
  * immutable afterwards, so tasks share it without locking.
  *
  * Matching walks the candidate pieces bucketed by first character in
  * DESCENDING length order and takes the first full match — greedy
  * longest-match with at most |bucket| substring probes per position.
  * Buckets are tiny for real vocabularies (pieces starting with a given
  * char), so this beats a pointer-chasing trie on cache behavior while
  * keeping the same O(position · bucket) bound.
  */
final class BpeCodec(pieces: IndexedSeq[String]) extends Serializable {

  // pieces bucketed by first char, longest first; id = vocab index + 1
  @transient private lazy val buckets: java.util.HashMap[Character, Array[(String, Int)]] = {
    val m = new java.util.HashMap[Character, scala.collection.mutable.ArrayBuffer[(String, Int)]]()
    pieces.zipWithIndex.foreach { case (p, i) =>
      m.computeIfAbsent(p.charAt(0), _ => scala.collection.mutable.ArrayBuffer.empty)
        .append((p, i + 1))
    }
    val out = new java.util.HashMap[Character, Array[(String, Int)]]()
    m.forEach((c, buf) => out.put(c, buf.sortBy { case (p, id) => (-p.length, id) }.toArray))
    out
  }

  /** Encode one normalized text row: per space-separated word, greedy
    * longest-match; unmatched char → id 0, advance 1.
    */
  def encodeRow(text: UTF8String): ArrayData = {
    val s = text.toString
    val ids = new scala.collection.mutable.ArrayBuffer[Int](s.length / 2 + 1)
    var w = 0
    val n = s.length
    while (w < n) {
      if (s.charAt(w) == ' ') w += 1
      else {
        // word = [w, e)
        var e = w
        while (e < n && s.charAt(e) != ' ') e += 1
        var pos = w
        while (pos < e) {
          val cand = buckets.get(s.charAt(pos))
          var matched = 0 // piece length consumed; 0 = no match yet
          var id = 0
          if (cand != null) {
            var i = 0
            while (matched == 0 && i < cand.length) {
              val (p, pid) = cand(i)
              // piece must fit inside the WORD (never across the space)
              if (pos + p.length <= e && s.startsWith(p, pos)) {
                matched = p.length; id = pid
              }
              i += 1
            }
          }
          if (matched == 0) { ids += 0; pos += 1 } // <unk>
          else { ids += id; pos += matched }
        }
        w = e
      }
    }
    new GenericArrayData(ids.toArray)
  }
}

/** Native expression applying a [[Bpe.Vocab]] by greedy longest-match:
  * `string → array<int>` (token ids; 0 = `<unk>`). Why a custom
  * expression: the per-position variable-length matching loop has no
  * Column-algebra form that stays inside whole-stage codegen (a
  * `transform`/`aggregate` encoding would interpret a lambda per
  * character), and a Scala UDF would break the repo's zero-UDF rule and
  * codegen fusion. The codegen path calls the same [[BpeCodec]] kernel
  * via a plan reference object — one virtual call per row, vocab built
  * once per executor.
  */
case class BpeEncodeExpr(child: Expression, pieces: IndexedSeq[String])
    extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"bpe_encode requires string, got ${other.sql}")
  }

  override def dataType: DataType = ArrayType(IntegerType, containsNull = false)

  @transient private lazy val codec = new BpeCodec(pieces)

  override protected def nullSafeEval(input: Any): Any =
    codec.encodeRow(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val codecRef = ctx.addReferenceObj("bpeCodec", codec, classOf[BpeCodec].getName)
    nullSafeCodeGen(ctx, ev, in => s"${ev.value} = $codecRef.encodeRow($in);")
  }

  override def prettyName: String = "bpe_encode"

  override protected def withNewChildInternal(newChild: Expression): BpeEncodeExpr =
    copy(child = newChild)
}
