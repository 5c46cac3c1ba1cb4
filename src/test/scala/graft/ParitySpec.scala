package graft

import graft.functions.PyText
import graft.operators.Detector
import graft.synth.TranscriptGen

/**
 * The P/R >= 0.95 parity gate (north rule; BASELINE.md "triple
 * correctness"): the Spark pipeline's (subj, pred, obj) triples vs the
 * [[ReferenceOracle]]'s — an independent imperative transcription of
 * src/prod.py:32-213 — on deterministic fixture transcripts. The token
 * tagger (the "model") is shared; what's under test is every operator
 * downstream: decode, me-sub, per-tag greedy dedup, modifier
 * normalization, triple emission.
 */
class ParitySpec extends SparkSuite {

  test("pipeline triples match reference-semantics oracle at P/R >= 0.95") {
    import spark.implicits._
    val nConvs = 120L
    val turns = TranscriptGen.generate(spark, nConvs, avgLen = 8)

    // engine path (distributed)
    val got = Pipeline.extract(spark, turns)
      .collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj))
      .toSet

    // oracle path (single-threaded, independent transcription)
    val model = Detector.buildModel()
    val expected = (0L until nConvs).flatMap { c =>
      TranscriptGen.turnsOfConv(42L, c, 8).flatMap { t =>
        val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
        val tags = EngineTags(model, t.text, toks).toIndexedSeq
        ReferenceOracle.extract(t.conv_id, t.turn_idx, t.role, t.text, toks, tags)
          .map { case (s, p, o) => (t.conv_id, t.turn_idx, s, p, o) }
      }
    }.toSet

    assert(expected.nonEmpty, "oracle produced no triples — generator broken")
    assert(got.nonEmpty, "pipeline produced no triples")
    val tp = (got & expected).size.toDouble
    val precision = tp / got.size
    val recall = tp / expected.size
    info(f"triples: got=${got.size} expected=${expected.size} P=$precision%.4f R=$recall%.4f")
    if (precision < 1.0 || recall < 1.0) {
      (got -- expected).take(5).foreach(t => info(s"unexpected: $t"))
      (expected -- got).take(5).foreach(t => info(s"missing:    $t"))
    }
    assert(precision >= 0.95, f"precision $precision%.4f < 0.95")
    assert(recall >= 0.95, f"recall $recall%.4f < 0.95")
  }

  test("determinism: identical triple set under different parallelism") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 40L, avgLen = 6)
    val a = Pipeline.extract(spark, turns).collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    val b = Pipeline.extract(spark, turns.repartition(13)).collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    assert(a == b)
  }

  test("generator is deterministic and Zipf-skewed") {
    val t1 = TranscriptGen.turnsOfConv(42L, 7L, 8)
    val t2 = TranscriptGen.turnsOfConv(42L, 7L, 8)
    assert(t1 == t2)
    assert(TranscriptGen.convLength(0L, 8) == 320) // hot conversation
    assert(TranscriptGen.convLength(1L, 8) <= 16)
  }
}
