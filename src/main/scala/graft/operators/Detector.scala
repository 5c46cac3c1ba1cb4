package graft.operators

import graft.Gazetteer
import graft.Schemas._

/**
 * Mention detection (SURVEY.md §2.8 M1): the deterministic replacement for
 * the reference's ONNX token classifier (src/model/ModelWrapper.py:128-139;
 * argmax at src/prod.py:38).
 *
 * Physical shape — the scale-critical part:
 *  - the Aho-Corasick automaton over all gazetteer surfaces is built ONCE
 *    on the driver and broadcast (the analog of per-process model load +
 *    warmup, src/prod.py:14-15);
 *  - detection runs inside the per-turn kernel ([[Decode.turnEntities]]),
 *    which callers map over partitions of turns: per-partition the
 *    broadcast value is dereferenced once, then thousands of turns
 *    stream through with zero per-row setup — a NARROW transformation, so
 *    the whole detect→decode→dedup→triple core needs NO shuffle;
 *  - matching is case-insensitive (text lowercased with Locale.ROOT) and
 *    token-aligned: a hit must start on a token start and end on a token
 *    end (or the token's word-core end, before its `[.!]*` suffix), which
 *    reproduces "the model tags whole words";
 *  - overlaps resolve leftmost-longest, then gazetteer priority, then
 *    pattern id — fully deterministic under any partitioning.
 */
object Detector {

  /** Broadcastable detector state: automaton + per-pattern tag/priority. */
  final case class Model(ac: AhoCorasick, tags: Array[String],
      priority: Array[Int]) extends Serializable

  def buildModel(entries: Seq[Gazetteer.Entry] = Gazetteer.entries): Model = {
    // one automaton pattern per distinct lowercased surface; tag of a
    // surface = the entry with min (priority, gazetteer order) — same
    // deterministic rule as Gazetteer.linkIndex.
    val byLower = scala.collection.mutable.LinkedHashMap
      .empty[String, Gazetteer.Entry]
    entries.sortBy(_.priority).foreach { e =>
      val k = e.surface.toLowerCase(java.util.Locale.ROOT)
      if (!byLower.contains(k)) byLower(k) = e
    }
    val pats = byLower.keys.toArray
    Model(AhoCorasick.build(pats), byLower.values.map(_.tag).toArray,
      byLower.values.map(_.priority).toArray)
  }

  /** Tag one turn's tokens, given as packed start<<32|end offsets
    * ([[graft.functions.PyText.tokenizeOffsetsPacked]]). Returns the
    * per-token tag array ("O" default).
    *
    * Allocation discipline: this runs for EVERY turn of a 10^12-turn
    * corpus; the workload is allocation-rate bound (measured: per-thread
    * throughput halves from 8 to 32 threads with boxed collections), so
    * token alignment uses sorted primitive arrays + binary search and the
    * automaton returns packed longs — no boxing on the per-turn path. */
  def tagTokensPacked(model: Model, text: String, offs: Array[Long]): Array[String] = {
    val nToks = offs.length
    val starts = new Array[Int](nToks)
    val ends = new Array[Int](nToks)
    var i = 0
    while (i < nToks) {
      starts(i) = (offs(i) >>> 32).toInt; ends(i) = offs(i).toInt; i += 1
    }
    val tags = Array.fill(nToks)("O")
    if (nToks == 0) return tags
    val lower = text.toLowerCase(java.util.Locale.ROOT)
    // boundary arrays for token alignment (token starts/ends are sorted)
    val coreEnds = new Array[Int](nToks) // ends minus [.!]* suffix
    i = 0
    while (i < nToks) {
      var e = ends(i)
      while (e > starts(i) &&
          (text.charAt(e - 1) == '.' || text.charAt(e - 1) == '!')) e -= 1
      coreEnds(i) = e
      i += 1
    }
    @inline def isEnd(e: Int): Boolean = {
      val j = java.util.Arrays.binarySearch(ends, e)
      if (j >= 0) true
      else {
        // coreEnds is also sorted (token order); search it too
        java.util.Arrays.binarySearch(coreEnds, e) >= 0
      }
    }
    // collect aligned candidates packed as sort keys:
    // start(21b) | invLen(15b) | prio(7b) | pid(20b) — ascending sort =
    // (start asc, length desc, priority asc, pid asc), no tuple boxing
    val raw = model.ac.findAllPacked(lower)
    if (lower.length >= (1 << 21)) {
      // RARE path: `start` only has 21 bits in the packed sort key, so a
      // match starting past char 2^21-1 would overflow into the sign bit
      // and corrupt the leftmost-longest order (earlier matches silently
      // skipped). Turns this long are pathological tool dumps — sort the
      // few candidates boxed instead; same alignment, same order, same
      // sweep (packed==boxed equality pinned by AutomatonScaleSpec).
      val cs = scala.collection.mutable.ArrayBuffer.empty[(Int, Int, Int, Int)]
      var rr = 0
      while (rr < raw.length) {
        val pid = (raw(rr) >>> 32).toInt
        val end = (raw(rr) & 0xffffffffL).toInt
        val start = end - model.ac.patterns(pid).length
        if (java.util.Arrays.binarySearch(starts, start) >= 0 && isEnd(end))
          // clamp length/priority EXACTLY like the packed key below —
          // out-of-range values (a >32767-char pattern, a priority
          // outside [0,127]) must tie-break identically on both paths
          cs += ((start, -math.min(end - start, (1 << 15) - 1),
            math.min(math.max(model.priority(pid), 0), (1 << 7) - 1), pid))
        rr += 1
      }
      var occupiedUntil = -1
      cs.sortBy(identity).foreach { case (s, _, _, pid) =>
        val e = s + model.ac.patterns(pid).length
        if (s >= occupiedUntil) {
          occupiedUntil = e
          val tag = model.tags(pid)
          var k = java.util.Arrays.binarySearch(starts, s)
          while (k < nToks && ends(k) <= e) { tags(k) = tag; k += 1 }
          if (k < nToks && starts(k) < e) tags(k) = tag
        }
      }
      return tags
    }
    val cands = new Array[Long](raw.length)
    var nc = 0
    var r = 0
    while (r < raw.length) {
      val pid = (raw(r) >>> 32).toInt
      val end = (raw(r) & 0xffffffffL).toInt
      val start = end - model.ac.patterns(pid).length
      if (java.util.Arrays.binarySearch(starts, start) >= 0 && isEnd(end)) {
        val len = math.min(end - start, (1 << 15) - 1)
        val invLen = ((1 << 15) - 1) - len
        val prio = math.min(math.max(model.priority(pid), 0), (1 << 7) - 1)
        cands(nc) = (start.toLong << 42) | (invLen.toLong << 27) |
          (prio.toLong << 20) | pid.toLong
        nc += 1
      }
      r += 1
    }
    java.util.Arrays.sort(cands, 0, nc)
    var occupiedUntil = -1
    var c = 0
    while (c < nc) {
      val s = (cands(c) >>> 42).toInt
      val pid = (cands(c) & ((1 << 20) - 1)).toInt
      val e = s + model.ac.patterns(pid).length
      if (s >= occupiedUntil) {
        occupiedUntil = e
        val tag = model.tags(pid)
        var k = java.util.Arrays.binarySearch(starts, s)
        while (k < nToks && ends(k) <= e) {
          tags(k) = tag
          k += 1
        }
        // a token whose word-core end == e (match ends before its [.!]*
        // suffix) is still fully claimed by the match
        if (k < nToks && starts(k) < e) tags(k) = tag
      }
      c += 1
    }
    tags
  }

  private val quotedSpan = java.util.regex.Pattern.compile(
    "[\"“]([^\"“”]{2,64})[\"”]")

  /**
   * Regex mention source (SURVEY.md §7.2: mention sources are UNIONED —
   * gazetteer hits ∪ regex hits): a quoted span that is not already a
   * gazetteer hit is an ALT_TITLE candidate (quoting is how transcripts
   * introduce unknown titles). Lower confidence (0.6) than gazetteer
   * mentions; row-local.
   */
  def regexMentions(model: Model, t: Turn): Seq[Mention] = {
    if (t.text == null) return Seq.empty
    val out = scala.collection.mutable.ArrayBuffer.empty[Mention]
    val m = quotedSpan.matcher(t.text)
    while (m.find()) {
      // bounds track the TRIMMED surface (String.trim's rule: <= ' '), so
      // the invariant every mention source keeps — text == slice(start,
      // end) — holds for padded quotes like "he said \" Ghost Rule \""
      // too; group bounds over the padding would make offset consumers
      // (evidence slicing, span-identity dedup) see a different surface
      // than Mention.text
      var s = m.start(1); var e = m.end(1)
      while (s < e && t.text.charAt(s) <= ' ') s += 1
      while (e > s && t.text.charAt(e - 1) <= ' ') e -= 1
      val inner = t.text.substring(s, e)
      val innerLower = inner.toLowerCase(java.util.Locale.ROOT)
      // skip spans the gazetteer already covers (union, not duplicate)
      val known = model.ac.findAllPacked(innerLower).exists { p =>
        model.ac.patterns((p >>> 32).toInt) == innerLower
      }
      if (inner.nonEmpty && !known) {
        out += Mention(t.conv_id, t.turn_idx, "ALT_TITLE", inner, s, e,
          "regex:quoted", 0.6)
      }
    }
    out.toSeq
  }
}
