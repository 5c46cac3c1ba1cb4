package graft.perfbench

import graft.Schemas.Turn
import graft.functions.PyText
import graft.operators.{Decode, Detector, Triples}

/** Single-thread phase timers for the fused per-turn extraction kernel
  * (`Pipeline.extractTurn`): each phase runs over the whole turn sample
  * before the next starts, so one clock read pair covers thousands of
  * turns and the timer costs nothing per turn. Reports ns per turn, the
  * median over passes. */
object Kernel {

  final case class PhaseNs(tokenize: Double, tag: Double, decode: Double,
      emit: Double, triples: Long)

  def time(turns: Array[Turn], passes: Int): PhaseNs = {
    val model = Detector.buildModel()
    val n = turns.length
    val offs = new Array[Array[Long]](n)
    val tags = new Array[Array[String]](n)
    val ents = new Array[Seq[graft.Schemas.Entity]](n)
    def clock(f: Int => Unit): Double = {
      val t0 = System.nanoTime()
      var i = 0
      while (i < n) { f(i); i += 1 }
      (System.nanoTime() - t0).toDouble / n
    }
    var triples = 0L
    val samples = (0 until passes).map { _ =>
      triples = 0L
      val tk = clock(i => offs(i) = PyText.tokenizeOffsetsPacked(turns(i).text))
      val tg = clock(i => tags(i) =
        Detector.tagTokensPacked(model, turns(i).text, offs(i)))
      val dc = clock { i =>
        val t = turns(i)
        ents(i) = Decode.meSubstitute(
          Decode.decodeEntitiesPacked(t.text, offs(i), tags(i)),
          if (t.role == null) "" else t.role)
      }
      val em = clock { i =>
        val t = turns(i)
        triples += Triples.emitArrays(t.conv_id, t.turn_idx,
          Triples.structuredArraysShared(ents(i)), "gazetteer:ac").size
      }
      (tk, tg, dc, em)
    }
    def med(xs: Seq[Double]) = xs.sorted.apply(xs.size / 2)
    PhaseNs(med(samples.map(_._1)), med(samples.map(_._2)),
      med(samples.map(_._3)), med(samples.map(_._4)), triples)
  }
}
