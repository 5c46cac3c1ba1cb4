package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.functions.PyText
import graft.operators.{Decode, Detector, GreedyDedup}

/** Property tests (SURVEY.md §5.2-3): invariants over random inputs,
  * including astral-plane and CJK codepoints. */
class PropertySpec extends AnyFunSuite {

  /** Deterministic scalacheck sampling (no scalatestplus bridge in the
    * offline cache): 200 seeded samples per property. */
  private def forAll[A](g: Gen[A], n: Int = 200)(f: A => Unit): Unit = {
    var seed = org.scalacheck.rng.Seed(42L)
    var i = 0
    while (i < n) {
      g.apply(Gen.Parameters.default, seed).foreach(f)
      seed = seed.next
      i += 1
    }
  }
  private def forAll2[A, B](ga: Gen[A], gb: Gen[B])(f: (A, B) => Unit): Unit =
    forAll(for { a <- ga; b <- gb } yield (a, b))(t => f(t._1, t._2))

  // text generator mixing ASCII, CJK, Hungarian accents, astral chars, ws
  private val charGen: Gen[String] = Gen.frequency(
    6 -> Gen.alphaNumChar.map(_.toString),
    2 -> Gen.oneOf(" ", "\n", "\t", "　"),
    1 -> Gen.oneOf("夜", "駆", "á", "ő", "ﾞ", "【", "】", "(", ")", "\""),
    1 -> Gen.oneOf("🎵", "🎸", "𝄞"),
    1 -> Gen.oneOf(".", "!", ",", "#", "/"))
  private val textGen: Gen[String] =
    Gen.listOf(charGen).map(_.mkString).map(_.take(200))

  test("tokenizer: offsets slice back to tokens; tokens ordered, non-overlapping") {
    forAll(textGen) { text =>
      val toks = PyText.tokenizeWithOffsets(text)
      toks.foreach(t => assert(text.substring(t.start, t.end) == t.tok))
      toks.sliding(2).foreach {
        case Array(a, b) => assert(a.end <= b.start)
        case _ =>
      }
      // filter semantics: no token is pure whitespace except "\n"
      toks.foreach(t => assert(t.tok == "\n" || !PyText.pyIsSpace(t.tok)))
    }
  }

  test("tokenizer: concatenation of tokens + dropped whitespace = original") {
    forAll(textGen) { text =>
      // every non-space codepoint of the input appears in some token
      val tokChars = PyText.tokenizeWithOffsets(text)
        .flatMap(t => (t.start until t.end)).toSet
      var i = 0
      while (i < text.length) {
        val cp = text.codePointAt(i)
        val s = text.substring(i, i + Character.charCount(cp))
        if (!(s == "\n" || PyText.pyIsSpace(s)) || s == "\n") {
          // "\n" is kept; other whitespace dropped; everything else kept
        }
        if (!PyText.pyIsSpace(s) || s == "\n")
          assert((i until i + Character.charCount(cp)).forall(tokChars.contains),
            s"codepoint at $i ($s) lost")
        i += Character.charCount(cp)
      }
    }
  }

  test("UTF-16 <-> codepoint index bijection on random unicode") {
    forAll(textGen) { text =>
      val nCp = text.codePointCount(0, text.length)
      (0 to nCp).foreach { cp =>
        val u16 = PyText.cpToUtf16(text, cp)
        assert(PyText.utf16ToCp(text, u16) == cp)
      }
    }
  }

  test("decode: spans non-overlapping, ordered, never tagged O, text slices match") {
    val tagGen = Gen.listOf(Gen.oneOf("O", "O", "TITLE", "VOCALOID", "ALBUM"))
    forAll2(textGen, tagGen) { (text, rawTags) =>
      val offs = PyText.tokenizeOffsetsPacked(text)
      val tags = offs.indices.map(i =>
        if (i < rawTags.length) rawTags(i) else "O")
      val ents = Decode.decodeEntitiesPacked(text, offs, tags.toArray)
      ents.foreach { e =>
        assert(e.tag != "O")
        assert(e.text == text.substring(e.start, e.end))
      }
      ents.sliding(2).foreach {
        case Seq(a, b) => assert(a.end <= b.start || a.start <= b.start)
        case _ =>
      }
      // count parity: entities == number of maximal non-O same-tag runs
      val runs = tags.foldLeft(List.empty[String]) {
        case (acc, t) if t == "O" => if (acc.headOption.contains("O")) acc else "O" :: acc
        case (acc, t) => if (acc.headOption.contains(t)) acc else t :: acc
      }.count(_ != "O")
      assert(ents.size == runs)
    }
  }

  test("dedup: output subset of input, order preserved, pairwise lev > 3 (post-tfidf)") {
    val entGen = Gen.listOf(Gen.oneOf("Senbonzakura", "Senbonzakura!",
      "Melt", "Meltt", "World is Mine", "Ghost Rule", "xx", ""))
    forAll(entGen) { ents =>
      val out = GreedyDedup.filterUniqueEntities(ents)
      // subset + order preserved
      assert(out.toSet.subsetOf(ents.toSet))
      val positions = out.map(ents.indexOf)
      assert(positions == positions.sorted)
      // pairwise Levenshtein > 3 among kept
      for (i <- out.indices; j <- i + 1 until out.size)
        assert(PyText.levenshtein(out(i), out(j)) > 3,
          s"${out(i)} ~ ${out(j)}")
    }
  }

  test("detector tags are deterministic and independent of prior calls") {
    val model = Detector.buildModel()
    forAll(textGen) { text =>
      val offs = PyText.tokenizeOffsetsPacked(text)
      val a = Detector.tagTokensPacked(model, text, offs).toSeq
      val b = Detector.tagTokensPacked(model, text, offs).toSeq
      assert(a == b)
      assert(a.length == offs.length)
    }
  }

  // random text salted with gazetteer surfaces and first-person words, so
  // the model's tags open, merge and close entities and me-sub fires
  private val mentionTextGen: Gen[String] = Gen.listOf(Gen.frequency(
    3 -> textGen.map(_.take(12)),
    2 -> Gen.oneOf("Senbonzakura", "Hatsune Miku", "Melt.", "covered by",
      "me", "I", "Myself", "remixed", "\"Ghost Rule\""))).map(_.mkString(" "))

  test("packed hot path == object forms: tokenizer offsets, tagger, decoder") {
    val model = Detector.buildModel()
    val tagGen = Gen.listOf(Gen.oneOf("O", "O", "TITLE", "VOCALOID",
      "ORIGINAL_AUTHOR"))
    def asTuples(es: Seq[Schemas.Entity]) = es.map(e => (e.tag, e.text, e.start, e.end))
    val gen = for {
      text <- Gen.oneOf(textGen, mentionTextGen); rawTags <- tagGen
    } yield (text, rawTags)
    forAll(gen, n = 400) { case (text, rawTags) =>
      val packed = PyText.tokenizeOffsetsPacked(text)
      val toks = PyText.tokenizeWithOffsetsRegex(text).toIndexedSeq
      assert(packed.toSeq ==
        toks.map(t => (t.start.toLong << 32) | t.end.toLong),
        s"offsets diverged on: $text")
      // the model's tags, through the kernel and through the oracle
      val tags = Detector.tagTokensPacked(model, text, packed)
      assert(EngineTags(model, text, toks).toSeq == tags.toSeq,
        s"tags diverged on: $text")
      assert(asTuples(Decode.turnEntities(model, text, "user")) ==
        ReferenceOracle.meSubstitute(
          ReferenceOracle.decode(text, toks, tags.toIndexedSeq), "user"),
        s"kernel diverged on: $text")
      // arbitrary tag sequences through the decoder alone
      val rnd = Array.tabulate(packed.length)(i =>
        if (i < rawTags.length) rawTags(i) else "O")
      assert(asTuples(Decode.meSubstitute(
        Decode.decodeEntitiesPacked(text, packed, rnd), "user")) ==
        ReferenceOracle.meSubstitute(
          ReferenceOracle.decode(text, toks, rnd.toIndexedSeq), "user"),
        s"decode diverged on: $text / ${rnd.toSeq}")
    }
  }

  test("tokenizer scanner == regex form on random unicode (incl. astral/CJK)") {
    forAll(textGen, n = 400) { text =>
      val a = PyText.tokenizeWithOffsets(text).toSeq
      val b = PyText.tokenizeWithOffsetsRegex(text).toSeq
      assert(a == b, s"scanner/regex divergence on ${text.take(80)}")
    }
  }

  test("OSA distance: identity, symmetry, bounded by levenshtein, swap costs 1") {
    import graft.operators.Canonicalize
    val keyGen = Gen.listOfN(12, Gen.frequency(
      8 -> Gen.alphaLowerChar.map(_.toString),
      1 -> Gen.oneOf("夜", "駆", "á"),
      1 -> Gen.oneOf("🎵", "𝄞"))).map(_.mkString)
    forAll2(keyGen, keyGen) { (a, b) =>
      assert(Canonicalize.jvmOsa(a, a) == 0)
      val d = Canonicalize.jvmOsa(a, b)
      assert(d == Canonicalize.jvmOsa(b, a)) // symmetric
      assert(d <= Canonicalize.jvmLev(a, b)) // transpositions only help
      // lev counts a transposition as 2; OSA never saves more than half
      assert(Canonicalize.jvmLev(a, b) <= 2 * d)
    }
    // swapping two adjacent DISTINCT code points costs exactly 1
    forAll(keyGen.suchThat(_.nonEmpty)) { a =>
      val cps = a.codePoints().toArray
      val i = cps.length / 2
      if (i + 1 < cps.length && cps(i) != cps(i + 1)) {
        val swapped = cps.clone()
        val t = swapped(i); swapped(i) = swapped(i + 1); swapped(i + 1) = t
        val b = new String(swapped, 0, swapped.length)
        assert(Canonicalize.jvmOsa(a, b) == 1, s"swap in '$a' -> '$b'")
      }
    }
  }

  test("sortedJaccard merge == set-based jaccard on random long arrays") {
    // pin the UDF's merge against the obvious set formula (the DocDedup
    // verification path depends on this merge being exact)
    val arrGen = Gen.listOf(Gen.chooseNum(-50L, 50L))
      .map(_.distinct.sorted.toArray)
    forAll2(arrGen, arrGen) { (a, b) =>
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      val merge =
        if (a.isEmpty && b.isEmpty) 0.0
        else inter.toDouble / (a.length + b.length - inter)
      val expected =
        if (a.isEmpty && b.isEmpty) 0.0
        else {
          val (sa, sb) = (a.toSet, b.toSet)
          sa.intersect(sb).size.toDouble / sa.union(sb).size
        }
      assert(math.abs(merge - expected) < 1e-12)
    }
  }

  test("minhash signature: deterministic, bounded, min monotone under shingle superset") {
    import graft.operators.DocDedup
    import org.apache.spark.sql.functions.lit
    def sig(text: String): Seq[Long] = SharedSpark.spark.range(1)
      .select(DocDedup.minhashSignature(lit(text), numHashes = 32))
      .head.getSeq[Long](0)
    val base = "the quick brown fox jumps the lazy dog"
    val sh = sig(base)
    assert(sh.length == 32)
    assert(sh.forall(v => v >= 0 && v <= 2147483647L))
    assert(sig(base) == sh) // deterministic across evaluations
    // the extended text's shingle set is a SUPERSET of the base's (same
    // leading tokens), so every permutation-min can only stay or drop
    val sh2 = sig(base + " and then some more text")
    sh.zip(sh2).foreach { case (a, b) => assert(b <= a) }
  }

  test("surfaceForms is distributive: k-way RANDOM row splits merge to the full aggregate") {
    // the incremental design's load-bearing algebra — and a stronger
    // claim than the conversation-split equality in KgStagesSpec: rows
    // are split arbitrarily (a surface's mentions scattered over ALL
    // parts), and folding mergeForms over per-part aggregates must
    // reproduce the one-shot aggregate exactly
    import org.apache.spark.sql.functions.{col, pmod, crc32, concat_ws, lit}
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(123)
    val tags = Array("TITLE", "VOCALOID", "ORIGINAL_AUTHOR")
    val surfaces = Array("Melt", "melt", "Senbonzakura", "夜に駆ける",
      "DECO*27", "Hatsune Miku", "  padded  ", "🎵 clef")
    val rows = (0 until 3000).map { i =>
      (tags(rnd.nextInt(tags.length)), surfaces(rnd.nextInt(surfaces.length)), i)
    }
    val mentions = rows.toDF("tag", "text", "i")
    val full = graft.operators.Canonicalize.surfaceForms(mentions)
      .collect().map(_.toString).sorted.toSeq
    for (k <- Seq(2, 5)) {
      val parts = (0 until k).map(p => mentions.where(
        pmod(crc32(concat_ws("#", col("i").cast("string"), lit(k))), lit(k)) === p))
      // every row lands in exactly one part
      assert(parts.map(_.count()).sum == 3000)
      val merged = parts.map(graft.operators.Canonicalize.surfaceForms)
        .reduce(graft.operators.Canonicalize.mergeForms)
        .collect().map(_.toString).sorted.toSeq
      assert(merged == full, s"k=$k merge diverged")
    }
  }
}
