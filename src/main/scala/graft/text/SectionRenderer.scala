package graft.text

import scala.collection.mutable.ArrayBuffer

final case class ScoredChunk(startPos: Int, endPos: Int, score: Double)
final case class TextSection(text: String, tokenCount: Int, score: Double)

/** Token-budgeted best-section assembly from a document's scored
  * chunks — same algorithm as the reference
  * (reference: local_document_result.py:26-183 render_sections):
  * whole-doc shortcut, per-chunk token filter, doc-order section
  * packing, score normalization, top-`maxSections` by score, adjacent
  * chunk merge, '\n\n...\n\n' connectors, then before/after context
  * padding while the budget holds.
  *
  * Two deliberate divergences from the reference source, both noted
  * here because they change behavior:
  *  - the final in-progress section IS appended
  *    (reference: local_document_result.py:84-94 drops the tail
  *    section — every document whose top chunks fit one budget would
  *    render zero sections);
  *  - the connector's token_count is len(encode(...))
  *    (reference: local_document_result.py:125 stores the token LIST,
  *    which raises TypeError on the += at line 134 whenever a section
  *    has >1 chunk).
  *
  * Runs per document inside DocumentIndex.renderSections' `flatMap`
  * over the top documents' catalog rows — each call gets one
  * document's ≤ maxChunks scored chunks, so the per-document work is
  * O(maxChunks + |text|) regardless of corpus size.
  */
object SectionRenderer {

  private val Connector = "\n\n...\n\n"

  private final case class MChunk(
      var text: String, var startPos: Int, var endPos: Int,
      var score: Double, var tokenCount: Int)

  private final case class MSection(
      chunks: ArrayBuffer[MChunk], var score: Double, var tokenCount: Int)

  def render(text: String, scored: Seq[ScoredChunk], maxTokens: Int, maxSections: Int,
      tok: Tokenizer): Seq[TextSection] = {
    val tokens = tok.encode(text)
    if (tokens.length < maxTokens)
      return Seq(TextSection(text, tokens.length, 1.0))

    // Chunk texts are re-sliced from the document by position
    // (reference: local_document_result.py:47-62).
    val chunks = ArrayBuffer.empty[MChunk]
    scored.foreach { c =>
      val chunkText = text.substring(
        math.max(0, c.startPos), math.min(text.length, c.endPos + 1))
      val n = tok.countTokens(chunkText)
      if (n <= maxTokens)
        chunks += MChunk(chunkText, c.startPos, c.endPos, c.score, n)
    }
    val ordered = chunks.sortBy(_.startPos)

    if (ordered.isEmpty) {
      // reference: local_document_result.py:64-75 — top chunk, truncated.
      val top = scored.head
      val chunkText = text.substring(
        math.max(0, top.startPos), math.min(text.length, top.endPos + 1))
      val ts = tok.encode(chunkText)
      return Seq(TextSection(tok.decode(ts.take(maxTokens)), maxTokens, top.score))
    }

    // Pack doc-ordered chunks into sections under the budget.
    val sections = ArrayBuffer.empty[MSection]
    var current = MSection(ArrayBuffer.empty, 0.0, 0)
    ordered.foreach { c =>
      if (current.tokenCount + c.tokenCount > maxTokens && current.chunks.nonEmpty) {
        sections += current
        current = MSection(ArrayBuffer.empty, 0.0, 0)
      }
      current.chunks += c
      current.score += c.score
      current.tokenCount += c.tokenCount
    }
    if (current.chunks.nonEmpty) sections += current

    sections.foreach(s => s.score /= s.chunks.length)
    val top = sections.sortBy(-_.score).take(maxSections)

    // Merge adjacent chunks (reference: local_document_result.py:105-117).
    top.foreach { s =>
      var i = 0
      while (i < s.chunks.length - 1) {
        val a = s.chunks(i); val b = s.chunks(i + 1)
        if (a.endPos + 1 == b.startPos) {
          a.text += b.text; a.endPos = b.endPos; a.tokenCount += b.tokenCount
          s.chunks.remove(i + 1)
        } else i += 1
      }
    }

    val connTokens = tok.countTokens(Connector)
    top.foreach { s =>
      // Insert connectors between non-adjacent chunks.
      if (s.chunks.length > 1) {
        var i = 0
        while (i < s.chunks.length - 1) {
          s.chunks.insert(i + 1, MChunk(Connector, -1, -1, 0.0, connTokens))
          s.tokenCount += connTokens
          i += 2
        }
      }
      // Pad with surrounding context while budget holds
      // (reference: local_document_result.py:137-170).
      var budget = maxTokens - s.tokenCount
      if (budget > 40) {
        val sectionStart = s.chunks.head.startPos
        val sectionEnd = s.chunks.last.endPos
        if (sectionStart > 0) {
          val beforeTokens = tok.encode(text.substring(0, sectionStart))
          val b = math.min(beforeTokens.length, budget / 2)
          val c = MChunk(tok.decode(beforeTokens.takeRight(b)), sectionStart - b,
            sectionStart - 1, 0.0, b)
          s.chunks.insert(0, c)
          s.tokenCount += b
          budget -= b
        }
        if (sectionEnd < text.length - 1) {
          val afterTokens = tok.encode(text.substring(sectionEnd + 1))
          val a = math.min(afterTokens.length, budget)
          val c = MChunk(tok.decode(afterTokens.take(a)), sectionEnd + 1,
            sectionEnd + a, 0.0, a)
          s.chunks += c
          s.tokenCount += a
          budget -= a
        }
      }
    }

    top.map(s => TextSection(s.chunks.map(_.text).mkString(""), s.tokenCount, s.score)).toSeq
  }
}
