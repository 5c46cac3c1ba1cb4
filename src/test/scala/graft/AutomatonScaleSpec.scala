package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{AhoCorasick, Detector}
import graft.Gazetteer

/** Automaton behavior at realistic gazetteer scale: a production music
  * gazetteer has 10^5-10^6 surfaces; the broadcast automaton must build in
  * seconds and match in microseconds per turn regardless. */
class AutomatonScaleSpec extends AnyFunSuite {

  private def syntheticSurfaces(n: Int): Array[String] = {
    val rng = new scala.util.Random(42)
    val syll = Array("ka", "mi", "ru", "sen", "bon", "za", "ku", "ra",
      "yo", "na", "gi", "to", "ha", "tsu", "ne", "me", "lt", "ro", "li", "ng")
    Array.tabulate(n) { i =>
      val len = 2 + rng.nextInt(4)
      (0 until len).map(_ => syll(rng.nextInt(syll.length))).mkString +
        (if (i % 7 == 0) " " + syll(rng.nextInt(syll.length)) else "")
    }.distinct
  }

  test("50k-surface automaton: builds fast, matches correctly, broadcast-sized") {
    val surfaces = syntheticSurfaces(50000)
    val t0 = System.nanoTime()
    val ac = AhoCorasick.build(surfaces)
    val buildSec = (System.nanoTime() - t0) / 1e9
    info(f"build: ${surfaces.length} surfaces in $buildSec%.2f s")
    assert(buildSec < 30.0)
    // every surface must match itself at the right end offset
    val probe = surfaces.take(500)
    probe.foreach { s =>
      val hits = ac.findAllPacked(s)
      assert(hits.exists { p =>
        val pid = (p >>> 32).toInt
        val end = (p & 0xffffffffL).toInt
        ac.patterns(pid) == s && end == s.length
      }, s"surface $s not found in itself")
    }
    // serialized size sane for broadcast (well under executor budgets)
    val bos = new java.io.ByteArrayOutputStream()
    val oos = new java.io.ObjectOutputStream(bos)
    oos.writeObject(ac); oos.close()
    info(f"serialized automaton: ${bos.size() / 1024.0 / 1024.0}%.1f MiB")
    assert(bos.size() < 256 * 1024 * 1024)
    // throughput: matching a 200-char text stays microsecond-scale
    val text = ("check out " + surfaces(7) + " covered by " + surfaces(13)) * 3
    val n = 20000
    val t1 = System.nanoTime()
    var k = 0L
    (0 until n).foreach(_ => k += ac.findAllPacked(text).length)
    val perText = (System.nanoTime() - t1) / 1e3 / n
    info(f"match: $perText%.1f us per ${text.length}-char text ($k hits total)")
    assert(perText < 1000.0)
  }

  test("detector model with a big gazetteer still tags the standard fixtures") {
    val big = syntheticSurfaces(20000).zipWithIndex.map { case (s, i) =>
      Gazetteer.Entry(s, "MISC_PERSON", s"x$i", "en", 1) // lower priority
    }
    val model = Detector.buildModel(Gazetteer.entries ++ big)
    val text = "check out Senbonzakura covered by Hatsune Miku"
    val toks = graft.functions.PyText.tokenizeWithOffsets(text)
    val tags = EngineTags(model, text, toks)
    val byTok = toks.map(_.tok).zip(tags).toMap
    assert(byTok("Senbonzakura") == "TITLE")
    assert(byTok("Miku") == "VOCALOID")
  }

  test("tags survive match offsets beyond the packed key's 2^21-char bound") {
    // the packed candidate sort key holds start in 21 bits; a longer turn
    // (a pathological tool dump) takes the boxed rare path — tags for
    // content past the boundary must equal the same content unshifted
    val model = Detector.buildModel()
    val base = "check out Senbonzakura covered by Hatsune Miku"
    val text = base + (" " * ((1 << 21) + 7)) + base
    val toks = graft.functions.PyText.tokenizeWithOffsets(text)
    val tags = EngineTags(model, text, toks)
    val baseToks = graft.functions.PyText.tokenizeWithOffsets(base)
    val baseTags = EngineTags(model, base, baseToks).toSeq
    assert(toks.last.start > (1 << 21), "fixture must cross the bound")
    assert(tags.toSeq == baseTags ++ baseTags,
      "tags diverged across the 2^21 offset boundary")
  }
}
