package graft.functions

import graft.Schemas.Token

/**
 * Python-string-semantics text primitives, pinned to the reference's
 * behavior by golden fixtures (see TokenizerSpec / PyTextSpec).
 *
 * Why these exist: the reference's extraction core is defined in terms of
 * CPython string semantics (str.isspace / str.title / str.istitle,
 * codepoint indexing), which differ from the JVM defaults in edge cases
 * (NBSP, \x1c-\x1f, titlecasing after digits, astral-plane indexing).
 * Everything here is pure, allocation-light, and safe to call per-row
 * inside whole-stage-codegen'd projections or mapPartitions.
 *
 * Reference semantics: src/tokenizer/TokenizerCustom.py:7-28 (tokenizer),
 * src/prod.py:20-24 + src/data/database.py:67-75 (UTF-16<->codepoint),
 * src/prod.py:143 (str.title), src/model/feature_extraction.py:198-210
 * (case predicates).
 */
object PyText {

  /** The reference tokenizer's word pattern (TokenizerCustom.py:9):
    * CJK ideographs / hiragana / katakana+prolonged / fullwidth latin+digits /
    * iteration marks / ASCII digits / combining (han)dakuten / Hungarian
    * accented vowels — as one alternative — or plain ASCII alnum; either
    * followed by any run of '.' or '!'. */
  private val classA = "一-龠ぁ-ゔァ-ヴーａ-ｚＡ-Ｚ０-９々〆〤0-9゙゚" +
    "áíóöőüúűéÁÍÚÜŰÓÖŐÉ"
  private val wordPattern = java.util.regex.Pattern.compile(
    s"([$classA]+|[a-zA-Z0-9]+)[.!]*")

  /** BMP membership tables for the scanner form of the tokenizer,
    * GENERATED from the regex character classes themselves (single source
    * of truth — no hand-transcribed ranges to get wrong; equivalence with
    * the regex form is additionally property-tested on random unicode).
    * The classes contain no astral characters, so any surrogate is
    * out-of-class, exactly as in the regex. */
  private val inA: Array[Boolean] = {
    val p = java.util.regex.Pattern.compile(s"[$classA]")
    Array.tabulate(65536) { c =>
      !Character.isSurrogate(c.toChar) &&
        p.matcher(String.valueOf(c.toChar)).matches()
    }
  }
  @inline private def inB(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z') || (c >= '0' && c <= '9')

  /** The "verbal token" pattern (feature_extraction.py:66) — same classes
    * minus ASCII digits in the second alternative. */
  private val verbalPattern = java.util.regex.Pattern.compile(
    "([一-龠ぁ-ゔァ-ヴーａ-ｚＡ-Ｚ々〆〤]+|[a-zA-Z]+)")

  /** Channel-containment guard pattern (feature_extraction.py:36) — the
    * word classes incl. fullwidth digits, ASCII alnum alternative. */
  private val channelGuardPattern = java.util.regex.Pattern.compile(
    "([一-龠ぁ-ゔァ-ヴーａ-ｚＡ-Ｚ０-９々〆〤]+|[a-zA-Z0-9]+)[.!]*")

  /** CPython str.isspace for a single codepoint: Unicode categories
    * Zs/Zl/Zp plus the bidirectional-WS/B/S control chars. */
  def pyIsSpaceCp(cp: Int): Boolean = cp match {
    case 0x09 | 0x0a | 0x0b | 0x0c | 0x0d | 0x1c | 0x1d | 0x1e | 0x1f | 0x85 => true
    case _ =>
      val t = Character.getType(cp)
      t == Character.SPACE_SEPARATOR || t == Character.LINE_SEPARATOR ||
        t == Character.PARAGRAPH_SEPARATOR
  }

  /** CPython str.isspace: non-empty and all codepoints are space. */
  def pyIsSpace(s: String): Boolean = {
    if (s.isEmpty) return false
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (!pyIsSpaceCp(cp)) return false
      i += Character.charCount(cp)
    }
    true
  }

  private def isCased(cp: Int): Boolean =
    Character.isUpperCase(cp) || Character.isLowerCase(cp) || Character.isTitleCase(cp)

  /** CPython str.isupper: >=1 cased char, no lowercase/titlecase. */
  def pyIsUpper(s: String): Boolean = {
    var cased = false; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isLowerCase(cp) || Character.isTitleCase(cp)) return false
      if (Character.isUpperCase(cp)) cased = true
      i += Character.charCount(cp)
    }
    cased
  }

  /** CPython str.islower: >=1 cased char, no uppercase/titlecase. */
  def pyIsLower(s: String): Boolean = {
    var cased = false; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isUpperCase(cp) || Character.isTitleCase(cp)) return false
      if (Character.isLowerCase(cp)) cased = true
      i += Character.charCount(cp)
    }
    cased
  }

  /** CPython str.istitle: upper/title chars only at the start of cased
    * runs, lowercase only inside them; >=1 cased char. */
  def pyIsTitle(s: String): Boolean = {
    var cased = false; var prevCased = false; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      if (Character.isUpperCase(cp) || Character.isTitleCase(cp)) {
        if (prevCased) return false
        cased = true; prevCased = true
      } else if (Character.isLowerCase(cp)) {
        if (!prevCased) return false
        cased = true; prevCased = true
      } else prevCased = false
      i += Character.charCount(cp)
    }
    cased
  }

  /** CPython str.title: titlecase the first cased char of every cased run,
    * lowercase the rest (boundary = ANY uncased char, unlike Spark initcap
    * which only splits on whitespace). Reference use: src/prod.py:143. */
  def pyTitle(s: String): String = {
    val sb = new java.lang.StringBuilder(s.length)
    var prevCased = false; var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      val thisCased = isCased(cp)
      val out =
        if (thisCased && !prevCased) Character.toTitleCase(cp)
        else if (thisCased) Character.toLowerCase(cp)
        else cp
      sb.appendCodePoint(out)
      prevCased = thisCased
      i += Character.charCount(cp)
    }
    sb.toString
  }

  /** 4-way capitalization class (feature_extraction.py:198-210):
    * 0=ALLCAPS, 1=alllower, 2=TitleCase, 3=mixed/uncased. */
  def capClass(s: String): Int =
    if (pyIsUpper(s)) 0 else if (pyIsLower(s)) 1 else if (pyIsTitle(s)) 2 else 3

  /** Codepoint index -> UTF-16 code-unit index (src/prod.py:20-24).
    * Java strings are UTF-16 natively so this is offsetByCodePoints. */
  def cpToUtf16(text: String, cpIndex: Int): Int =
    text.offsetByCodePoints(0, cpIndex)

  /** UTF-16 code-unit index -> codepoint index (src/data/database.py:67-75). */
  def utf16ToCp(text: String, u16Index: Int): Int =
    text.codePointCount(0, u16Index)

  /** [[tokenizeWithOffsets]] with offsets converted to CODEPOINT indices
    * in ONE forward walk (calling [[utf16ToCp]] per boundary would be
    * O(n^2) over a long document). The plain form emits UTF-16 unit
    * offsets — the slicing space of every JVM-internal consumer; spans
    * sourced from the REFERENCE's records (Python len()/slice semantics)
    * are codepoint-indexed, so joins against them must use this form or
    * every offset after the first astral character is off. */
  def tokenizeWithOffsetsCp(text: String): Array[graft.Schemas.Token] = {
    val toks = tokenizeWithOffsets(text)
    var u = 0 // UTF-16 cursor
    var cp = 0 // codepoint cursor
    @inline def advanceTo(target: Int): Int = {
      while (u < target) {
        // token boundaries never split a surrogate pair, so stepping by
        // codePointAt's char count stays aligned
        u += Character.charCount(text.codePointAt(u))
        cp += 1
      }
      cp
    }
    toks.map(t => graft.Schemas.Token(t.tok, advanceTo(t.start), advanceTo(t.end)))
  }

  /** Does the token match the verbal pattern anywhere (re.search)? */
  def isVerbal(token: String): Boolean = verbalPattern.matcher(token).find()

  /** Channel-containment word guard (re.search of the guard pattern). */
  def matchesChannelGuard(token: String): Boolean =
    channelGuardPattern.matcher(token).find()

  /** The reference custom tokenizer's token strings with their offsets:
    * [[tokenizeOffsetsPacked]]'s boundaries, each sliced from `text`. For
    * callers that need the token text (the F1 projection, codepoint
    * offsets, the Python encode() shape); the extraction kernel reads
    * the packed offsets alone. */
  def tokenizeWithOffsets(text: String): Array[Token] =
    tokenizeOffsetsPacked(text).map { o =>
      val s = (o >>> 32).toInt; val e = o.toInt
      Token(text.substring(s, e), s, e)
    }

  /**
   * The reference custom tokenizer (TokenizerCustom.py:7-28), with the
   * offsets the Python version discards (we need them for span
   * arithmetic), packed start<<32|end into a primitive long array.
   *
   * Algorithm parity:
   *  - regex word matches are kept whole;
   *  - gaps between matches are exploded to single CODEPOINTS (Python
   *    list(str) iterates codepoints — a surrogate pair must stay one
   *    token);
   *  - whitespace tokens are dropped except a literal "\n".
   *
   * Offsets are UTF-16 code-unit indices into `text` (substring-ready).
   * Packed, not Token objects: the extraction kernel never reads the
   * token substrings (the detector aligns on boundaries, the decoder
   * slices the original text), so a Token object + substring per token
   * (~2 allocations x ~20 tokens x every turn of the corpus) would be
   * pure GC pressure.
   *
   * Implemented as a table-driven scanner, not a regex find() loop: this
   * runs once per turn of a 10^12-turn corpus and the regex engine was
   * the single largest per-turn cost (measured ~25% end-to-end via
   * graft.Micro). The scanner is EXACTLY the pattern's semantics — at
   * each position try [classA]+ first, else [a-zA-Z0-9]+, then swallow
   * the [.!]* suffix; unmatched codepoints explode as single tokens —
   * with class membership read from tables generated from the regex
   * classes themselves. [[tokenizeWithOffsetsRegex]] keeps the direct
   * regex form; PropertySpec pins scanner == regex on random unicode.
   */
  def tokenizeOffsetsPacked(text: String): Array[Long] = {
    if (text == null) return Array.emptyLongArray
    val out = new scala.collection.mutable.ArrayBuilder.ofLong
    out.sizeHint(text.length / 4 + 4)
    val n = text.length
    var i = 0
    while (i < n) {
      val c = text.charAt(i)
      var j = -1
      if (inA(c)) {
        j = i + 1
        while (j < n && inA(text.charAt(j))) j += 1
      } else if (inB(c)) {
        j = i + 1
        while (j < n && inB(text.charAt(j))) j += 1
      }
      if (j > 0) {
        // word match: swallow the [.!]* suffix; class chars are never
        // whitespace so the match always survives the whitespace filter
        while (j < n && { val s = text.charAt(j); s == '.' || s == '!' }) j += 1
        out += (i.toLong << 32) | j.toLong
        i = j
      } else {
        // gap: one codepoint, dropped iff whitespace other than "\n"
        val cp = text.codePointAt(i)
        val w = Character.charCount(cp)
        if (cp == '\n' || !pyIsSpaceCp(cp))
          out += (i.toLong << 32) | (i + w).toLong
        i += w
      }
    }
    out.result()
  }

  /** The direct regex form of [[tokenizeWithOffsets]] (the scanner's
    * equivalence oracle; kept test-reachable, not on the hot path). */
  private[graft] def tokenizeWithOffsetsRegex(text: String): Array[Token] = {
    if (text == null) return Array.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Token]
    def explodeGap(from: Int, until: Int): Unit = {
      var i = from
      while (i < until) {
        val cp = text.codePointAt(i)
        val n = Character.charCount(cp)
        val t = text.substring(i, i + n)
        if (t == "\n" || !pyIsSpace(t)) out += Token(t, i, i + n)
        i += n
      }
    }
    val m = wordPattern.matcher(text)
    var cur = 0
    while (m.find()) {
      if (cur < m.start) explodeGap(cur, m.start)
      val t = text.substring(m.start, m.end)
      if (t == "\n" || !pyIsSpace(t)) out += Token(t, m.start, m.end)
      cur = m.end
    }
    if (cur < text.length) explodeGap(cur, text.length)
    out.toArray
  }

  /** Token strings only (the Python encode() return shape). */
  def tokenize(text: String): Array[String] = tokenizeWithOffsets(text).map(_.tok)

  /** Non-overlapping literal occurrence count — parity with
    * re.findall(re.escape(t), text) (feature_extraction.py:52). */
  def countOccurrences(needle: String, hay: String): Int = {
    if (needle.isEmpty) return hay.length + 1 // re.findall("", s) semantics
    var count = 0; var i = hay.indexOf(needle)
    while (i >= 0) { count += 1; i = hay.indexOf(needle, i + needle.length) }
    count
  }

  /**
   * Mojibake repair — the dominant `ftfy.fix_text` case (reference:
   * src/data/preprocess.py:14, dormant there): UTF-8 bytes that were
   * decoded as Windows-1252/Latin-1 ("CafÃ©" → "Café", "â€™" → "’"),
   * including the double-encoded form ("CafÃƒÂ©" → "Café" in two rounds).
   *
   * Method: re-encode the string as cp1252 and strictly re-decode as
   * UTF-8; accept only if both conversions are lossless AND the result is
   * shorter (real mojibake repair always contracts). Conservative by
   * construction — "naïve", CJK, and plain ASCII are untouched because
   * either the cp1252 encode fails, the strict UTF-8 decode fails, or the
   * length does not shrink. This is a documented APPROXIMATION of ftfy:
   * segment-wise repair of mixed-encoding strings and the rarer legacy
   * codepages are out of scope.
   */
  def fixMojibake(s: String): String = {
    if (s == null) return null
    var cur = s
    var rounds = 0
    while (rounds < 2 && looksMojibake(cur)) {
      val repaired = tryCp1252Utf8Repair(cur)
      if (repaired == null) return cur
      cur = repaired
      rounds += 1
    }
    cur
  }

  // cp1252 renderings of UTF-8 continuation bytes 0x80-0x9F
  private val cp1252HighPunct =
    "€‚ƒ„…†‡ˆ‰Š" +
      "‹ŒŽ‘’“”•–—" +
      "˜™š›œžŸ"

  /** Cheap signature gate: a cp1252-rendered UTF-8 lead byte (Â..ô)
    * immediately followed by a cp1252-rendered continuation byte. */
  private def looksMojibake(s: String): Boolean = {
    var i = 0
    while (i < s.length - 1) {
      val c = s.charAt(i)
      if (c >= '\u00C2' && c <= '\u00F4') { // cp1252 view of UTF-8 lead bytes
        val n = s.charAt(i + 1)
        if ((n >= '\u00A0' && n <= '\u00BF') || // continuation 0xA0-0xBF
            cp1252HighPunct.indexOf(n) >= 0) // continuation 0x80-0x9F
          return true
      }
      i += 1
    }
    false
  }

  /** One lossless cp1252-encode → strict-UTF-8-decode round, or null. */
  private def tryCp1252Utf8Repair(s: String): String = {
    import java.nio.charset.{Charset, CodingErrorAction, CharacterCodingException}
    try {
      val bytes = Charset.forName("windows-1252").newEncoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .encode(java.nio.CharBuffer.wrap(s))
      val out = java.nio.charset.StandardCharsets.UTF_8.newDecoder()
        .onMalformedInput(CodingErrorAction.REPORT)
        .onUnmappableCharacter(CodingErrorAction.REPORT)
        .decode(bytes).toString
      if (out.length < s.length) out else null
    } catch { case _: CharacterCodingException => null }
  }

  /** Classic Levenshtein (src/prod.py:158-175); used by per-doc dedup.
    * Spark's built-in `levenshtein` agrees — pinned by DedupSpec. */
  def levenshtein(a: String, b: String): Int = {
    if (a.length < b.length) return levenshtein(b, a)
    if (b.isEmpty) return a.length
    var prev = Array.tabulate(b.length + 1)(identity)
    var i = 0
    while (i < a.length) {
      val cur = new Array[Int](b.length + 1)
      cur(0) = i + 1
      var j = 0
      while (j < b.length) {
        val ins = prev(j + 1) + 1
        val del = cur(j) + 1
        val sub = prev(j) + (if (a.charAt(i) != b.charAt(j)) 1 else 0)
        cur(j + 1) = math.min(ins, math.min(del, sub))
        j += 1
      }
      prev = cur
      i += 1
    }
    prev(b.length)
  }
}
