package graft

import graft.Schemas.Token
import graft.operators.Detector

/** TEST-ONLY: the engine's per-token tags for a `Token` array — packs the
  * tokens' offsets and runs [[Detector.tagTokensPacked]], the tagger of the
  * per-turn kernel. The oracle-side tests (ParitySpec, KgOracleDump, ...)
  * feed these tags to [[ReferenceOracle]]; the tagger (the "model") is the
  * one piece the oracle and the engine share. */
object EngineTags {
  def apply(model: Detector.Model, text: String,
      toks: scala.collection.Seq[Token]): Array[String] =
    Detector.tagTokensPacked(model, text,
      toks.iterator.map(t => (t.start.toLong << 32) | t.end.toLong).toArray)
}
