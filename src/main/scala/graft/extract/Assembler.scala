package graft.extract

/** Stage M3+M4 — region grouping + deterministic span assembly
  * (SURVEY.md §2.3), the CRNN/CTC-decode analog (BASELINE.json
  * north_star): threshold the score array, coalesce adjacent winning
  * blocks whose affinity clears LinkThreshold into regions (the
  * connected-components-merge analog), then assemble the output text —
  * collapse whitespace runs (≡ CTC collapse-repeats; done in the
  * tokenizer), drop boilerplate blocks (≡ drop blanks), join in reading
  * order with a fixed separator.
  *
  * Span offsets are UTF-8 BYTE offsets into the output text — the
  * byte-identity unit of the north rule.
  */
object Assembler {

  /** UTF-8 byte length WITHOUT materializing the bytes (the hot path
    * runs this per block; an actual getBytes copy would double the
    * allocation traffic of the whole kernel).
    */
  def utf8Len(s: String): Int = {
    var n = 0
    var i = 0
    val len = s.length
    while (i < len) {
      val c = s.charAt(i)
      if (c < 0x80) n += 1
      else if (c < 0x800) n += 2
      else if (Character.isHighSurrogate(c) && i + 1 < len && Character.isLowSurrogate(s.charAt(i + 1))) {
        n += 4; i += 1
      } else if (Character.isSurrogate(c)) n += 1 // UNPAIRED: encoder emits one '?'
      else n += 3
      i += 1
    }
    n
  }

  /** Keep blocks scoring at least this (CRAFT text_threshold analog). */
  val TextThreshold: Float = 1.0f

  /** Merge adjacent kept blocks into one region when their affinity is
    * at least this (CRAFT link/affinity threshold analog).
    */
  val LinkThreshold: Float = 0.5f

  /** Keep predicate (P2 score threshold). */
  @inline def kept(sp: ScoredPage, i: Int): Boolean = sp.scores(i) >= TextThreshold

  /** Number of regions among kept blocks (exposed for tests and the
    * relational group_regions cross-check).
    */
  def regionIds(sp: ScoredPage): Array[Int] = {
    val keep = sp.scores.indices.filter(i => kept(sp, i)).toArray
    val ids = new Array[Int](keep.length)
    var region = 0
    var k = 0
    while (k < keep.length) {
      if (k > 0) {
        val prev = keep(k - 1)
        val cur = keep(k)
        val adjacentLinked = cur == prev + 1 && sp.linkScores(prev) >= LinkThreshold
        if (!adjacentLinked) region += 1
      }
      ids(k) = region
      k += 1
    }
    ids
  }

  /** Columnar assembly result: output text + parallel primitive span
    * arrays (see ExtractedPage scaladoc for the representation choice).
    */
  final case class Assembled(
      text: String,
      starts: Array[Int],
      ends: Array[Int],
      blockIds: Array[Int],
      scores: Array[Float],
      textBytes: Int) { // UTF-8 length of `text`, accumulated during assembly
    def nSpans: Int = starts.length
  }

  def assembleColumnar(sp: ScoredPage, cfg: ExtractorConfig): Assembled = {
    val n = sp.blocks.length
    var nKept = 0
    var i = 0
    while (i < n) { if (kept(sp, i)) nKept += 1; i += 1 }
    val starts = new Array[Int](nKept)
    val ends = new Array[Int](nKept)
    val blockIds = new Array[Int](nKept)
    val scores = new Array[Float](nKept)
    val out = new java.lang.StringBuilder(512)
    var byteLen = 0
    // Append one fragment, keeping byteLen == utf8Len(out.toString): if
    // the previous fragment ended with an unpaired HIGH surrogate and
    // this one begins with a LOW surrogate, the encoder pairs them into
    // one 4-byte code point (counted 1+1 per-fragment) — adjust +2. The
    // merged code point is attributed to the fragment carrying the low
    // surrogate, so a span starting exactly there keeps its recorded
    // start; only its end (and the total) shift.
    def appendPiece(s: String): Unit = {
      if (s.isEmpty) return
      var add = utf8Len(s)
      if (out.length > 0 &&
          Character.isHighSurrogate(out.charAt(out.length - 1)) &&
          Character.isLowSurrogate(s.charAt(0))) add += 2
      out.append(s)
      byteLen += add
    }
    var k = 0
    i = 0
    while (i < n) {
      if (kept(sp, i)) {
        if (k > 0) appendPiece(cfg.blockSep)
        starts(k) = byteLen
        appendPiece(sp.blocks(i).text)
        ends(k) = byteLen
        blockIds(k) = sp.blocks(i).blockId
        scores(k) = sp.scores(i)
        k += 1
      }
      i += 1
    }
    Assembled(out.toString, starts, ends, blockIds, scores, byteLen)
  }

  /** Row-form spans (tests / executable-spec surface). */
  def assemble(sp: ScoredPage, cfg: ExtractorConfig): (String, Array[Span]) = {
    val a = assembleColumnar(sp, cfg)
    val spans = Array.tabulate(a.nSpans) { i =>
      Span(a.starts(i), a.ends(i), a.blockIds(i), "content", a.scores(i))
    }
    (a.text, spans)
  }
}
