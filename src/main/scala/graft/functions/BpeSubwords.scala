package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Codegen'd greedy longest-match BPE segmentation of a word array:
  * for each word, scan left to right taking the longest vocab piece
  * that prefixes the remainder (single code point fallback), and emit
  * the flattened per-document piece stream.
  *
  * Semantically identical to the higher-order-function walk in
  * `TextOps.bpeWordWith` (the retained reference implementation —
  * InvariantSpec asserts the two agree on the corpus), but that form
  * runs as interpreted lambdas re-filtering the whole vocab at every
  * character of every word occurrence; the round-7 bench showed it
  * dominating every token-billed curation op (corpus_budget_select
  * 41.5 s at sf0.1). This expression is a tight compiled loop with
  * first-character piece bucketing, called from whole-stage codegen.
  *
  * `extra` appends learned merge pieces (text_bpe_apply_merge's
  * vocab ∪ {merge}) without a second code path; pieces are plan-time
  * constants, so the bucketed index is built once per executor.
  */
case class BpeSubwords(child: Expression, vocab: Seq[String], extra: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_subwords"

  @transient private lazy val byChar: java.util.HashMap[Character, Array[String]] = {
    val m = new java.util.HashMap[Character, Array[String]]()
    (vocab ++ extra).distinct.groupBy(_.charAt(0)).foreach { case (c, ps) =>
      m.put(c, ps.sortBy(-_.length).toArray)
    }
    m
  }

  /** Segment every word in `words`, flattening to one piece stream.
    * Walks UTF-16 units but falls back by whole code point, matching
    * the reference walk's code-point `substr` on any input whose vocab
    * pieces are surrogate-free (they are ASCII here). */
  def segment(words: ArrayData): ArrayData = {
    val out = scala.collection.mutable.ArrayBuffer.empty[UTF8String]
    val n = words.numElements()
    var w = 0
    while (w < n) {
      // null elements contribute nothing (output declares
      // containsNull=false; current callers feed split() output, but a
      // nullable-element caller must get defined behavior, not an NPE)
      if (!words.isNullAt(w)) {
        val s = words.getUTF8String(w).toString
        var i = 0
        while (i < s.length) {
          val cand = byChar.get(s.charAt(i))
          var m = 0
          if (cand != null) {
            var j = 0
            while (m == 0 && j < cand.length) {
              if (s.startsWith(cand(j), i)) m = cand(j).length
              j += 1
            }
          }
          if (m == 0) m = Character.charCount(s.codePointAt(i))
          out += UTF8String.fromString(s.substring(i, i + m))
          i += m
        }
      }
      w += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def nullSafeEval(words: Any): Any =
    segment(words.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeSubwords", this, classOf[BpeSubwords].getName)
    nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $ref.segment($a);")
  }

  override protected def withNewChildInternal(newChild: Expression): BpeSubwords =
    copy(child = newChild)
}
