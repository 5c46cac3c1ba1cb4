package graft

import graft.operators.{Decode, Detector}
import graft.functions.PyText

class DecodeSpec extends SparkSuite {

  /** (start, end) token spans packed start<<32|end, the decoder's input. */
  private def offs(spans: (Int, Int)*): Array[Long] =
    spans.map { case (s, e) => (s.toLong << 32) | e.toLong }.toArray

  test("decode merges adjacent same-tag words into one span (reference quirk)") {
    val text = "Hatsune Miku sings"
    val ents = Decode.decodeEntitiesPacked(text, offs((0, 7), (8, 12), (13, 18)),
      Array("VOCALOID", "VOCALOID", "O"))
    assert(ents == Seq(Schemas.Entity("VOCALOID", "Hatsune Miku", 0, 12)))
  }

  test("tag change closes and reopens; trailing entity flushed") {
    val text = "Melt Hachi"
    val ents = Decode.decodeEntitiesPacked(text, offs((0, 4), (5, 10)),
      Array("TITLE", "ORIGINAL_AUTHOR"))
    assert(ents == Seq(
      Schemas.Entity("TITLE", "Melt", 0, 4),
      Schemas.Entity("ORIGINAL_AUTHOR", "Hachi", 5, 10)))
  }

  test("me-substitution replaces first-person with speaker, before dedup") {
    val ents = Seq(Schemas.Entity("ORIGINAL_AUTHOR", "me", 0, 2))
    assert(Decode.meSubstitute(ents, "assistant").head.text == "assistant")
    val mixed = Seq(Schemas.Entity("ORIGINAL_AUTHOR", "I", 0, 1),
      Schemas.Entity("TITLE", "Imagine", 2, 9))
    val out = Decode.meSubstitute(mixed, "user")
    assert(out.map(_.text) == Seq("user", "Imagine"))
  }

  test("detector: token-aligned, leftmost-longest, case-insensitive") {
    val model = Detector.buildModel()
    val text = "check out Senbonzakura covered by Hatsune Miku"
    val tk = PyText.tokenizeWithOffsets(text)
    val tags = EngineTags(model, text, tk)
    val byTok = tk.map(_.tok).zip(tags).toMap
    assert(byTok("Senbonzakura") == "TITLE")
    assert(byTok("covered") == "MODIFIER")
    assert(byTok("Hatsune") == "VOCALOID" && byTok("Miku") == "VOCALOID")
    assert(byTok("check") == "O" && byTok("by") == "O")
  }

  test("detector does not match inside tokens (substring guard)") {
    val model = Detector.buildModel()
    // "me" (pronoun) must not fire inside "Melt"; "i" not inside "is"
    val text = "Melt is nice"
    val tk = PyText.tokenizeWithOffsets(text)
    val tags = EngineTags(model, text, tk)
    assert(tk.map(_.tok).zip(tags).toMap.apply("is") == "O")
    assert(tags.count(_ != "O") == 1) // only Melt as TITLE
  }

  test("detector matches across the token's [.!]* suffix boundary") {
    val model = Detector.buildModel()
    val text = "listening to Melt. great song"
    val tk = PyText.tokenizeWithOffsets(text)
    val tags = EngineTags(model, text, tk)
    // token is "Melt." — gazetteer "melt" ends at its word-core end
    val idx = tk.indexWhere(_.tok == "Melt.")
    assert(idx >= 0 && tags(idx) == "TITLE")
  }

  test("window/gaps-and-islands decode agrees with row-local decode") {
    import spark.implicits._
    val rows = Seq(
      // doc, pos, tag, start, end
      ("d1", 0, "O", 0, 3), ("d1", 1, "TITLE", 4, 8), ("d1", 2, "TITLE", 9, 12),
      ("d1", 3, "O", 13, 15), ("d1", 4, "VOCALOID", 16, 20),
      ("d2", 0, "ALBUM", 0, 5), ("d2", 1, "O", 6, 8), ("d2", 2, "ALBUM", 9, 14))
      .toDF("doc", "pos", "tag", "start", "end")
    val got = Decode.decodeExploded(rows)
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3)))
      .toSet
    assert(got == Set(
      ("d1", "TITLE", 4, 12), ("d1", "VOCALOID", 16, 20),
      ("d2", "ALBUM", 0, 5), ("d2", "ALBUM", 9, 14)))
    // the row-local decode over the same rows, one doc at a time
    val text = "x" * 20
    val rowLocal = rows.collect().groupBy(_.getString(0)).toSeq.flatMap {
      case (doc, rs) =>
        val byPos = rs.sortBy(_.getInt(1))
        Decode.decodeEntitiesPacked(text,
          offs(byPos.map(r => (r.getInt(3), r.getInt(4))): _*),
          byPos.map(_.getString(2)))
          .map(e => (doc, e.tag, e.start, e.end))
    }
    assert(rowLocal.size == got.size && rowLocal.toSet == got)
  }

  test("subword decode: multi-subtoken words, word-end extension, -100-path (prod.py:52-117)") {
    // "Senbonzakura by Hatsune Miku" as HF-style subtokens:
    // [CLS] Senbon zakura by Hat sune Mi ku [SEP]
    val text = "Senbonzakura by Hatsune Miku"
    val wordIds = Array(-1, 0, 0, 1, 2, 2, 3, 3, -1)
    val starts = Array(0, 0, 6, 13, 16, 19, 24, 26, 0)
    val ends = Array(0, 6, 12, 15, 19, 23, 26, 28, 0)
    // only FIRST-subtoken tags are consulted; the continuation subtoken
    // 'zakura' deliberately carries a non-O tag that must be IGNORED
    val tags = Array("O", "TITLE", "ALBUM", "O", "VOCALIST", "O",
      "VOCALIST", "O", "O")
    val ents = Decode.decodeSubword(text, wordIds, starts, ends, tags)
    // TITLE opens at Senbon[0,6) and extends to the WORD end (12), not
    // the subtoken end; VOCALIST spans two words (adjacent same-tag
    // merge), each extended to its word end -> [16,28)
    assert(ents == Seq(
      Schemas.Entity("TITLE", "Senbonzakura", 0, 12),
      Schemas.Entity("VOCALIST", "Hatsune Miku", 16, 28)))
  }

  test("subword decode: entity closed by O on a later word's first subtoken") {
    val text = "Melt now"
    // Melt = Me/lt (word 0), now (word 1, tag O)
    val ents = Decode.decodeSubword(text,
      Array(0, 0, 1), Array(0, 2, 5), Array(2, 4, 8),
      Array("TITLE", "O", "O"))
    assert(ents == Seq(Schemas.Entity("TITLE", "Melt", 0, 4)))
  }

  test("subword decode == whole-word decode when every word is one subtoken") {
    val model = Detector.buildModel()
    (0L until 30L).flatMap(c => graft.synth.TranscriptGen.turnsOfConv(42L, c, 8))
      .foreach { t =>
        val offs = PyText.tokenizeOffsetsPacked(t.text)
        val tags = Detector.tagTokensPacked(model, t.text, offs)
        val whole = Decode.decodeEntitiesPacked(t.text, offs, tags)
        val sub = Decode.decodeSubword(t.text,
          Array.tabulate(offs.length)(identity),
          offs.map(o => (o >>> 32).toInt), offs.map(_.toInt), tags)
        assert(sub == whole, s"diverged on: ${t.text}")
      }
  }

  test("decodeTurns: null text decodes to no entities; null role me-subs to \"\"") {
    import spark.implicits._
    val turns = Seq(
      Schemas.Turn("c1", 0, "user", null, null, null),
      Schemas.Turn("c1", 1, null, "Melt remixed by me", "tool", null),
      Schemas.Turn("c2", 0, "assistant", "Senbonzakura covered by I", null, null))
      .toDS()
    val got = Pipeline.decodeTurns(spark, turns).collect().toSeq
    // expected: Token objects + engine tags through the reference decode
    // and me-sub, the speaker defaulting to "" as on every decode path
    val model = Detector.buildModel()
    val expected = turns.collect().toSeq.map { t =>
      val tk = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
      val ents = ReferenceOracle.meSubstitute(
        ReferenceOracle.decode(t.text, tk, EngineTags(model, t.text, tk).toIndexedSeq),
        if (t.role == null) "" else t.role)
      Schemas.DecodedTurn(t.conv_id, t.turn_idx, t.role, t.tool, t.text,
        ents.map { case (tag, x, s, e) => Schemas.Entity(tag, x, s, e) })
    }
    assert(got == expected)
    assert(got(0).entities.isEmpty)
    assert(got(1).entities.exists(e => e.tag == "ORIGINAL_AUTHOR" && e.text == ""))
    assert(got(2).entities.exists(_.text == "assistant"))
  }
}
