package graft

import java.nio.charset.StandardCharsets

import org.scalatest.funsuite.AnyFunSuite

import graft.extract._
import graft.sources.PageSource

/** Executable-spec tests for the pure extraction core (no Spark).
  * Fixture classes follow BASELINE.json:6's layout triad mapped to DOM
  * shapes (FIXTURES.md §3): nested / rotated-table / irregular.
  */
class ExtractCoreSpec extends AnyFunSuite {

  private val cfg = ExtractorConfig.default
  private val cfgSp = ExtractorConfig.spaceJoined

  private def bytes(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)

  // ---- tokenizer -----------------------------------------------------

  test("unclosed <pre> implicitly popped by an ancestor's close tag leaves verbatim mode") {
    val html = "<div><pre>code</div>\n  hello   world</body>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    val texts = blocks.map(_.text).toSeq
    assert(texts.contains("code"))
    assert(texts.exists(_ == "hello world"),
      s"text after the implicit pre-pop must be whitespace-collapsed, got $texts")
  }

  test("'<' followed by a non-letter is literal text, not a swallowed tag") {
    val blocks = HtmlTokenizer.tokenize(bytes("<p>I <3 u > all, 1 < 2, -5 <-3</p>"), cfg)
    assert(blocks.length == 1)
    assert(blocks(0).text == "I <3 u > all, 1 < 2, -5 <-3")
    // "</" + non-letter = bogus comment (consumed to '>'), per spec
    val b2 = HtmlTokenizer.tokenize(bytes("<p>x </3> y</p>"), cfg)
    assert(b2(0).text == "x y")
  }

  test("<pre> strips exactly ONE leading newline: \\n, \\r, or \\r\\n — never a run") {
    def pre(s: String): String = {
      val blocks = HtmlTokenizer.tokenize(bytes(s"<pre>$s</pre>"), cfg)
      if (blocks.isEmpty) "" else blocks(0).text
    }
    assert(pre("\nx") == "x")
    assert(pre("\rx") == "x")
    assert(pre("\r\nx") == "x")
    assert(pre("\n\nx") == "\nx")
    assert(pre("\r\rx") == "\rx", "second bare CR is CONTENT")
    assert(pre("\r\n\r\nx") == "\r\nx")
  }

  test("nested fixture: content vs boilerplate blocks") {
    val html =
      """<html><head><title>skip me</title><script>var a='<p>no</p>';</script></head>
        |<body><nav><a href="/">Home</a> <a href="/x">About</a></nav>
        |<div><p>hello world one</p><p>second block here</p></div>
        |<footer><a href="/p">Privacy</a></footer></body></html>""".stripMargin
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks.map(_.tag).toSeq == Seq("nav", "p", "p", "footer"))
    assert(blocks(1).text == "hello world one")
    assert(blocks(2).text == "second block here")
    assert(blocks(0).nLinkChars > 0 && blocks(0).nTags == 2)
    // title/script content never leaks
    assert(!blocks.exists(_.text.contains("skip")))
    assert(!blocks.exists(_.text.contains("no")))
  }

  test("whitespace collapse and entities are deterministic") {
    val html = "<p>  a&nbsp;&amp; b\t\n  c &lt;tag&gt; &#65; &unknown; </p>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks.length == 1)
    assert(blocks(0).text == "a & b c <tag> A &unknown;")
  }

  test("rotated-table fixture: reading order follows source order") {
    val html = "<table><tr><td>cell one text</td><td>cell two text</td></tr>" +
      "<tr><td>cell three text</td></tr></table>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks.map(_.text).toSeq ==
      Seq("cell one text", "cell two text", "cell three text"))
    assert(blocks.forall(_.tag == "td"))
  }

  test("irregular fixture: unclosed/mis-nested tags, comments, lone <") {
    val html = "<body><p>first para text<p><b>second bold para" +
      "<!-- <p>comment</p> --><div>third 1 < 2 block</div>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks.map(_.text).toSeq ==
      Seq("first para text", "second bold para", "third 1 < 2 block"))
  }

  test("<pre> preserves whitespace verbatim (minus the spec's leading newline)") {
    val html = "<p>intro  text</p><pre>\nline1\n  indented\ttab</pre><p>after</p>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks.map(_.tag).toSeq == Seq("p", "pre", "p"))
    assert(blocks(0).text == "intro text") // normal collapse outside pre
    assert(blocks(1).text == "line1\n  indented\ttab") // verbatim, leading \n stripped
    assert(blocks(2).text == "after")
    // <br> inside pre is a literal newline
    val br = HtmlTokenizer.tokenize(bytes("<pre>a<br>b</pre>"), cfg)
    assert(br(0).text == "a\nb")
  }

  test("astral-plane numeric entities decode to surrogate pairs") {
    val html = "<p>smile &#x1F600; and &#128169; end</p>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks(0).text == "smile 😀 and 💩 end")
    // invalid code points degrade deterministically to U+FFFD
    val bad = HtmlTokenizer.tokenize(bytes("<p>x &#x110000; y &#xD800; z</p>"), cfg)
    assert(bad(0).text == "x � y � z")
    // byte-accurate span accounting for 4-byte chars
    val (text, spans) = GoldenExtractor.extract(bytes("<p>a &#x1F600; b</p>"), cfg)
    assert(text == "a 😀 b")
    assert(spans.head.end == Assembler.utf8Len(text) && Assembler.utf8Len(text) == 8)
  }

  test("CDATA sections are literal text") {
    val html = "<p>before <![CDATA[raw <b>markup</b> & text]]> after</p>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    assert(blocks(0).text == "before raw <b>markup</b> & text after")
    // unterminated CDATA consumes to end-of-input, no scan past end
    val open = HtmlTokenizer.tokenize(bytes("<p>x <![CDATA[tail"), cfg)
    assert(open(0).text == "x tail")
  }

  test("invalid UTF-8 bytes decode deterministically") {
    val bad = Array[Byte]('<', 'p', '>', 'a', 0x80.toByte, 0xff.toByte, 'b', '<', '/', 'p', '>')
    val b1 = HtmlTokenizer.tokenize(bad, cfg)
    val b2 = HtmlTokenizer.tokenize(bad.clone(), cfg)
    assert(b1.map(_.text).toSeq == b2.map(_.text).toSeq)
    assert(b1(0).text.startsWith("a") && b1(0).text.endsWith("b"))
  }

  // ---- scorer ----------------------------------------------------------

  test("scorer separates content from link-heavy boilerplate") {
    val html = PageSource.NavHtml + "<p>plain content paragraph of words</p>" + PageSource.FooterHtml
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    val sp = Scorer.score("u", blocks)
    val byTag = blocks.map(_.tag).zip(sp.scores).toMap
    assert(byTag("p") >= Assembler.TextThreshold)
    assert(byTag("nav") < Assembler.TextThreshold)
    assert(byTag("footer") < Assembler.TextThreshold)
  }

  test("scores are primitive float arrays, bitwise stable") {
    val html = "<p>alpha beta</p><p>gamma</p>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    val s1 = Scorer.score("u", blocks).scores
    val s2 = Scorer.score("u", blocks).scores
    assert(s1.toSeq == s2.toSeq)
    assert(s1.getClass == classOf[Array[Float]])
  }

  // ---- wrapper invariants the DuckDB oracle relies on ------------------

  test("wrapper: nav/footer constants match oracle (boiler_chars = 35)") {
    // nav "Home About Contact Ref" (22) + footer "Privacy Terms" (13):
    // the planted out-link's anchor text rides the boiler count
    val blocks = HtmlTokenizer.tokenize(PageSource.wrapHtml(7L, "one two three"), cfgSp)
    val boiler = blocks.filter(_.tag != "p")
    assert(boiler.map(_.tag).toSeq == Seq("nav", "footer"))
    assert(boiler.map(_.nChars).sum == 35, s"boiler=${boiler.map(b => (b.tag, b.nChars, b.text)).toSeq}")
    assert(blocks.count(_.tag == "p") == 1)
  }

  test("wrapper: planted out-link markup is exactly 40 bytes + host digits; nav stays 100% link chars") {
    // the host_cost oracle's 291-byte chrome constant depends on this
    for (id <- Seq(0L, 1L, 2L, 5L, 123456L)) {
      val link = PageSource.outLinkHtml(id)
      val digits = PageSource.linkTargetHost(id).toString.length
      assert(link.length == 40 + digits, s"id=$id link=$link")
    }
    val blocks = HtmlTokenizer.tokenize(PageSource.wrapHtml(11L, "alpha beta"), cfgSp)
    val nav = blocks.find(_.tag == "nav").get
    assert(nav.nLinkChars == nav.nChars) // score exactly 0 -> always stripped
  }

  test("wrapper: canonical tag is 53 bytes + digits, head-only, never extracted") {
    // host_cost's mirror arithmetic depends on this exact shape
    for (id <- Seq(5L, 28L, 51L, 23L * 40L + 5L)) {
      val tag = PageSource.canonicalLinkHtml(id)
      val t = id - 5L
      val digits = PageSource.hostId(t).toString.length + t.toString.length
      assert(tag.length == 53 + digits, s"id=$id tag=$tag")
    }
    assert(PageSource.canonicalLinkHtml(6L) == "")
    val (out, _) = GoldenExtractor.extract(PageSource.wrapHtml(28L, "alpha beta gamma"), cfgSp)
    assert(out == "alpha beta gamma", s"head tag leaked: $out")
  }

  test("wrapper: robots meta is exactly 38 bytes, head-only, never extracted") {
    assert(PageSource.robotsMetaHtml(11L).length == 38)
    assert(PageSource.robotsMetaHtml(12L) == "")
    val (out, _) = GoldenExtractor.extract(PageSource.wrapHtml(42L, "alpha beta gamma"), cfgSp)
    assert(out == "alpha beta gamma", s"head tag leaked: $out") // 42 % 31 == 11
  }

  test("planted out-link never leaks into extraction for ANY bench fixture class") {
    for (id <- 0L to 5L) { // ids cover all three id%3 fixture classes
      val page = PageSource.genPage(id)
      val (out, _) = GoldenExtractor.extract(page.html, cfgSp)
      assert(!out.contains("Ref"), s"id=$id class=${id % 3} leaked the nav link: ${out.take(80)}")
      assert(!out.contains("Home"), s"id=$id nav boilerplate leaked")
      assert(out.nonEmpty)
    }
  }

  test("wrapper: n_blocks = paragraphs + 2; paragraph chunking = (nw+7)/8") {
    val words = (1 to 23).map(i => s"w$i").mkString(" ") // 23 words -> 3 paras
    val blocks = HtmlTokenizer.tokenize(PageSource.wrapHtml(1L, words), cfgSp)
    assert(PageSource.paragraphs(words).length == 3)
    assert(blocks.length == 5)
  }

  test("byte-identity: extraction of a wrapped doc reproduces the text exactly") {
    val texts = Seq(
      "the fast key order sort table scan merge part window",
      "a", "a b", (1 to 100).map(i => s"tok$i").mkString(" "),
      "x " * 7 + "y" // 8 words exactly
    )
    texts.zipWithIndex.foreach { case (t, i) =>
      val (out, spans) = GoldenExtractor.extract(PageSource.wrapHtml(i.toLong, t), cfgSp)
      assert(out == t, s"mismatch for input #$i")
      assert(java.util.Arrays.equals(out.getBytes(StandardCharsets.UTF_8),
        t.getBytes(StandardCharsets.UTF_8)))
      assert(spans.length == PageSource.paragraphs(t).length)
      // spans tile the text with single-space separators
      if (spans.nonEmpty) {
        assert(spans.head.start == 0)
        assert(spans.last.end == t.getBytes(StandardCharsets.UTF_8).length)
        spans.sliding(2).foreach {
          case Array(a, b) => assert(b.start == a.end + 1)
          case _           =>
        }
      }
    }
  }

  test("span byte offsets slice the output text correctly (multi-byte)") {
    val t = "héllo wörld " * 4 + "end"
    val (out, spans) = GoldenExtractor.extract(PageSource.wrapHtml(0L, t.trim), cfgSp)
    val outBytes = out.getBytes(StandardCharsets.UTF_8)
    spans.foreach { s =>
      val piece = new String(outBytes.slice(s.start, s.end), StandardCharsets.UTF_8)
      assert(!piece.startsWith(" ") && !piece.endsWith(" "))
      assert(s.kind == "content")
    }
  }

  test("textBytes stays exact when a surrogate pair forms across a block boundary (empty sep)") {
    // fragment 1 ends with an unpaired HIGH surrogate, fragment 2 begins
    // with a LOW one: under blockSep="" the encoder pairs them into one
    // 4-byte code point, where per-fragment counting sees 1+1 bytes —
    // the accumulated byteLen must match the real encoding (+2)
    val hi = "abc\uD83D"
    val lo = "\uDE00xyz"
    def block(id: Int, t: String) = Block(id, "p", 1, id, t, t.length, 0, 0)
    val sp = ScoredPage("u", Array(block(0, hi), block(1, lo)),
      Array(2.0f, 2.0f), Array(1.0f, 0.0f))
    val a = Assembler.assembleColumnar(sp, ExtractorConfig(blockSep = ""))
    assert(a.text == hi + lo)
    assert(a.textBytes == a.text.getBytes(StandardCharsets.UTF_8).length)
    assert(a.textBytes == Assembler.utf8Len(a.text))
    assert(a.ends.last == a.textBytes)
    // control: the default "\n" separator keeps the halves unpaired
    val b = Assembler.assembleColumnar(sp, ExtractorConfig(blockSep = "\n"))
    assert(b.textBytes == b.text.getBytes(StandardCharsets.UTF_8).length)
  }

  test("region grouping: adjacent same-tag kept blocks form one region") {
    val html = "<div><p>first second third four</p><p>fifth sixth seven eight</p></div>" +
      PageSource.NavHtml + "<div><p>after nav block text</p></div>"
    val blocks = HtmlTokenizer.tokenize(bytes(html), cfg)
    val sp = Scorer.score("u", blocks)
    val ids = Assembler.regionIds(sp)
    // nav is dropped; the two leading <p>s merge; the trailing <p> is
    // separated (non-adjacent blockIds)
    assert(ids.toSeq == Seq(0, 0, 1))
  }

  test("maxHtmlBytes caps per-page work") {
    val big = "<p>" + ("word " * 100000) + "</p>"
    val cfgCap = cfg.copy(maxHtmlBytes = 1024)
    val blocks = HtmlTokenizer.tokenize(bytes(big), cfgCap)
    assert(blocks.map(_.nChars).sum <= 1024)
  }

  test("empty / null html yield empty extraction") {
    assert(GoldenExtractor.extract(Array.emptyByteArray, cfg)._1 == "")
    assert(HtmlTokenizer.tokenize(null, cfg).isEmpty)
  }
}
