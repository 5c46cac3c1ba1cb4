package graft.tools

import graft.{EngineTags, Pipeline, ReferenceOracle}
import graft.functions.PyText
import graft.operators.Detector
import graft.synth.TranscriptGen
import org.apache.spark.sql.SparkSession

/**
 * TEST-ONLY generator for the driver-checkable KG gate (VERDICT r1 item
 * 9): computes the EXPECTED KG outputs at the driver's Verify scale
 * (sf0.01 = 2000 convs) from [[ReferenceOracle]] — the independent
 * transcription of src/prod.py:32-213 that shares no code with the
 * engine — and prints them as DuckDB VALUES literals for
 * SparkEntry.oracleSql, alongside the engine's own results so any
 * divergence is caught BEFORE the literals are embedded.
 *
 * Run: sbt -batch "Test/runMain graft.tools.KgOracleDump"
 */
object KgOracleDump {

  /** Spark's string ordering is UTF-8 BINARY byte order; Scala's default
    * String ordering is UTF-16 code-unit order. They diverge for
    * supplementary-plane characters, so every sort that must match an
    * engine `orderBy`/`min`/`sort_array` uses THIS ordering. */
  val utf8Ordering: Ordering[String] = (a: String, b: String) => {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    var r = 0
    while (r == 0 && i < x.length && i < y.length) {
      r = (x(i) & 0xff) - (y(i) & 0xff); i += 1
    }
    if (r != 0) r else x.length - y.length
  }

  def main(args: Array[String]): Unit = {
    val nConvs = 2000L // == TranscriptGen.convsForSfDir("...sf0.01...")
    val spark = SparkSession.builder().master("local[16]")
      .config("spark.sql.shuffle.partitions", "16")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // oracle path (independent transcription, single-threaded)
    val model = Detector.buildModel()
    val expected = (0L until nConvs).flatMap { c =>
      TranscriptGen.turnsOfConv(42L, c, 8).flatMap { t =>
        val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
        val tags = EngineTags(model, t.text, toks).toIndexedSeq
        ReferenceOracle.extract(t.conv_id, t.turn_idx, t.role, t.text, toks, tags)
          .map { case (s, p, o) => (t.conv_id, t.turn_idx, s, p, o) }
      }
    }

    // oracle path for the DECODE stage: per-tag entity counts after
    // decode + me-substitution (what Decode.mentions emits, pre-dedup)
    val oracleTagCounts: Map[String, Long] = (0L until nConvs).flatMap { c =>
      TranscriptGen.turnsOfConv(42L, c, 8).flatMap { t =>
        val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
        val tags = EngineTags(model, t.text, toks).toIndexedSeq
        ReferenceOracle.meSubstitute(
          ReferenceOracle.decode(t.text, toks, tags),
          if (t.role == null) "" else t.role).map(_._1)
      }
    }.groupBy(identity).view.mapValues(_.size.toLong).toMap

    // engine path
    val turnsDs = TranscriptGen.generate(spark, nConvs)
    val engineTagCounts = graft.operators.Decode.mentions(spark,
        Pipeline.decodeTurns(spark, turnsDs)).toDF()
      .groupBy("tag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    println(s"mention tag counts MATCH: ${oracleTagCounts == engineTagCounts}")
    if (oracleTagCounts != engineTagCounts) {
      println(s"oracle: ${oracleTagCounts.toSeq.sorted}")
      println(s"engine: ${engineTagCounts.toSeq.sorted}")
    }

    val got = Pipeline.extract(spark, TranscriptGen.generate(spark, nConvs))
      .collect().map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).toSeq

    def predCounts(ts: Seq[(String, Int, String, String, String)]) =
      ts.groupBy(_._4).view.mapValues(_.size.toLong).toMap
    val (oc, ec) = (predCounts(expected), predCounts(got))
    println(s"pred counts MATCH: ${oc == ec}")
    if (oc != ec) {
      println(s"oracle: ${oc.toSeq.sorted}")
      println(s"engine: ${ec.toSeq.sorted}")
    }

    def sample(ts: Seq[(String, Int, String, String, String)]) =
      ts.sorted(Ordering.Tuple5(utf8Ordering, Ordering.Int, utf8Ordering,
        utf8Ordering, utf8Ordering)).take(50)
    val (os, es) = (sample(expected), sample(got))
    println(s"top-50 sample MATCH: ${os == es}")

    // HARD GATE before any literal is written: a diverging engine must
    // fail the mint loudly, not emit oracle literals that the operator
    // might embed without noticing the MATCH: false line in sbt noise
    require(oracleTagCounts == engineTagCounts &&
      oc == ec && os == es,
      "engine != ReferenceOracle — fix the divergence before minting")

    // write as UTF-8 files (stdout mangles non-ASCII under sbt)
    def sq(s: String) = "'" + s.replace("'", "''") + "'"
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/kg_pred_counts.sql"),
      oc.toSeq.sortBy(_._1)
        .map { case (p, n) => s"(${sq(p)}, $n)" }.mkString(",\n  "))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/kg_sample.sql"),
      os.map { case (c, ti, s, p, o) =>
        s"(${sq(c)}, $ti, ${sq(s)}, ${sq(p)}, ${sq(o)})"
      }.mkString(",\n  "))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/kg_mention_tags.sql"),
      oracleTagCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => s"(${sq(t)}, $n)" }.mkString(",\n  "))

    // ---- serving-path oracle (VERDICT r2 item 7): predict() over videos
    // built from the first two turns of 500 convs — the exact
    // q_predict_videos fixture. Decode/dedup/structured-result from the
    // INDEPENDENT ReferenceOracle; tokens/tags from the engine (same
    // boundary as the KG gates, see SparkEntry comment).
    val nVid = 500L
    val predOracle: Seq[(String, String, String)] = (0L until nVid).flatMap { c =>
      val ts = TranscriptGen.turnsOfConv(42L, c, 8)
      (ts.find(_.turn_idx == 0).map(_.text),
        ts.find(_.turn_idx == 1).map(_.text)) match {
        case (Some(ti), Some(de)) =>
          val text = ti + " [SEP] " + de
          val toks = PyText.tokenizeWithOffsets(text).toIndexedSeq
          val stags = EngineTags(model, text, toks).toIndexedSeq
          val ents = ReferenceOracle.meSubstitute(
            ReferenceOracle.decode(text, toks, stags), "GraftChannel")
          ReferenceOracle.structuredResult(ents).toSeq.flatMap {
            case (tag, es) => es.map(e => (ts.head.conv_id, tag, e))
          }
        case _ => Nil
      }
    }
    val engPred = graft.SparkEntry.queries("q_predict_videos")(spark, "/unused")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2))).toSeq
    println(s"predict rows MATCH: ${predOracle.sorted == engPred.sorted} " +
      s"(oracle=${predOracle.size}, engine=${engPred.size})")
    require(predOracle.sorted == engPred.sorted,
      "predict(): engine != ReferenceOracle — fix before minting")
    val predTagCounts = predOracle.groupBy(_._2).view.mapValues(_.size.toLong)
      .toMap
    // UTF-8 byte order, matching the gate query's Spark orderBy (a Scala
    // tuple sort is UTF-16 code-unit order — divergent for astral chars
    // near the 50-row boundary)
    val predSample = predOracle
      .sorted(Ordering.Tuple3(utf8Ordering, utf8Ordering, utf8Ordering))
      .take(50)
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/predict_tag_counts.sql"),
      predTagCounts.toSeq.sortBy(_._1)
        .map { case (t, n) => s"(${sq(t)}, $n)" }.mkString(",\n  "))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/predict_sample.sql"),
      predSample.map { case (id, t, e) => s"(${sq(id)}, ${sq(t)}, ${sq(e)})" }
        .mkString(",\n  "))
    // ---- canonicalization oracle (VERDICT r3 item 1): an INDEPENDENT
    // single-threaded re-implementation of the G1-G4 graph stage —
    // prefix/suffix blocking, global-char-idf TF-IDF + levenshtein alias
    // edges, union-find components, freq/len/lex representative pick,
    // node/edge materialization — sharing NO code with
    // graft.operators.Canonicalize (different algorithms where possible:
    // union-find vs label propagation). Expected q_kg_nodes rows and the
    // q_kg_edges per-pred digests are computed here at the pinned
    // 300-conv corpus and compared against the engine BEFORE minting.
    val nCanon = 300L

    // mentions boundary = decode + me-sub (what Decode.mentions emits);
    // tokens/tags from the engine, same scope note as the KG gates above
    val canonMentions: Seq[(String, String)] = (0L until nCanon).flatMap { c =>
      TranscriptGen.turnsOfConv(42L, c, 8).flatMap { t =>
        val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
        val tags = EngineTags(model, t.text, toks).toIndexedSeq
        ReferenceOracle.meSubstitute(
          ReferenceOracle.decode(t.text, toks, tags),
          if (t.role == null) "" else t.role)
          .map { case (tag, txt, _, _) => (tag, txt) }
      }
    }
    final case class Form(tag: String, surface: String, n: Long, nk: String)
    val nonAlnum = java.util.regex.Pattern.compile("[^\\p{L}\\p{N}]")
    def normKey(s: String): String =
      nonAlnum.matcher(s.toLowerCase(java.util.Locale.ROOT)).replaceAll("")
    val allForms: Seq[Form] = canonMentions.groupBy(identity).toSeq
      .map { case ((tag, sf), xs) => Form(tag, sf, xs.size.toLong, normKey(sf)) }
    val nkForms = allForms.filter(_.nk.nonEmpty)

    // global char idf over the nk-bearing forms (mirrors aliasEdges);
    // keys are CODE POINTS, like Spark's split(nk, "") in charIdf
    def codePointStrings(s: String): Seq[String] =
      s.codePoints().toArray.toSeq.map(cp => new String(Character.toChars(cp)))
    val nForms = nkForms.size
    val idf: Map[String, Double] = nkForms
      .flatMap(f => codePointStrings(f.nk).distinct)
      .groupBy(identity).map { case (ch, xs) =>
        ch -> (math.log((1.0 + nForms) / (1.0 + xs.size)) + 1.0) }

    def lev(a: String, b: String): Int = {
      // code points, matching Spark's levenshtein() and the engine's
      // refinement jvmLev (UTF-16 units would over-count astral chars)
      val ca = a.codePoints().toArray
      val cb = b.codePoints().toArray
      val dp = Array.tabulate(cb.length + 1)(identity)
      for (i <- 1 to ca.length) {
        var prevDiag = dp(0); dp(0) = i
        for (j <- 1 to cb.length) {
          val t = dp(j)
          dp(j) = math.min(math.min(dp(j) + 1, dp(j - 1) + 1),
            prevDiag + (if (ca(i - 1) == cb(j - 1)) 0 else 1))
          prevDiag = t
        }
      }
      dp(cb.length)
    }
    def tfidfCos(a: String, b: String): Double = {
      // per-CODEPOINT vectors, matching the idf keys above
      def vec(s: String): Map[String, Double] = {
        val v = codePointStrings(s).groupBy(identity).map { case (c, cs) =>
          c -> cs.length.toDouble * idf.getOrElse(c, 1.0) }
        val n = math.sqrt(v.values.map(x => x * x).sum)
        if (n == 0) v else v.map { case (c, x) => c -> x / n }
      }
      val (va, vb) = (vec(a), vec(b))
      va.iterator.map { case (c, x) => x * vb.getOrElse(c, 0.0) }.sum
    }

    // blocking (p:/s: 2-char keys per tag), hot blocks (>1000) dropped
    val blockEntries: Seq[(String, Form)] = nkForms.flatMap { f =>
      Seq(s"p:${f.tag}:${f.nk.take(2)}" -> f,
        s"s:${f.tag}:${f.nk.reverse.take(2)}" -> f)
    }
    val blockSizes = blockEntries.groupBy(_._1).view.mapValues(_.size).toMap
    def key(f: Form) = f.tag + "\u0000" + f.surface

    // union-find over ALL form keys (isolates included, like the engine's
    // vertices = all forms)
    val parent = scala.collection.mutable.Map.empty[String, String]
    allForms.foreach(f => parent(key(f)) = key(f))
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def union(a: String, b: String): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(rb) = ra
    }
    blockEntries.filter { case (b, _) => blockSizes(b) <= 1000 }
      .groupBy(_._1).values.foreach { fs =>
        val list = fs.map(_._2).toIndexedSeq
        for (i <- list.indices; j <- list.indices if i != j) {
          val (a, b) = (list(i), list(j))
          if (utf8Ordering.lt(a.surface, b.surface) &&
            (lev(a.nk, b.nk) <= 3 || tfidfCos(a.nk, b.nk) > 0.5))
            union(key(a), key(b))
        }
      }

    // canopy refinement (mirrors Canonicalize G3, independent code):
    // members in (n desc, codepoint-length desc, surface UTF-8 asc)
    // order; each joins the FIRST leader it matches under the tight
    // length-aware criterion, else founds a cluster
    def osa(a: String, b: String): Int = {
      // full-matrix optimal string alignment over code points
      // (independent of the engine's rolling-rows form)
      val ca = a.codePoints().toArray
      val cb = b.codePoints().toArray
      val d = Array.ofDim[Int](ca.length + 1, cb.length + 1)
      for (i <- 0 to ca.length) d(i)(0) = i
      for (j <- 0 to cb.length) d(0)(j) = j
      for (i <- 1 to ca.length; j <- 1 to cb.length) {
        val cost = if (ca(i - 1) == cb(j - 1)) 0 else 1
        d(i)(j) = Seq(d(i - 1)(j) + 1, d(i)(j - 1) + 1,
          d(i - 1)(j - 1) + cost).min
        if (i > 1 && j > 1 && ca(i - 1) == cb(j - 2) && ca(i - 2) == cb(j - 1))
          d(i)(j) = math.min(d(i)(j), d(i - 2)(j - 2) + 1)
      }
      d(ca.length)(cb.length)
    }
    def aliasMatchOracle(nka: String, nkb: String): Boolean = {
      // equal codepoint length: one substitution or one adjacent swap
      // only (no cosine rung) — the Rin/Len conflation fix; unequal:
      // length-relative lev cap or the tight cosine rung
      val lenA = nka.codePointCount(0, nka.length)
      val lenB = nkb.codePointCount(0, nkb.length)
      if (lenA == lenB) osa(nka, nkb) <= 1
      else {
        val minLen = math.min(lenA, lenB)
        val levCap = math.min(3, math.max(1, minLen / 4))
        lev(nka, nkb) <= levCap ||
          (minLen >= 8 && tfidfCos(nka, nkb) > 0.8)
      }
    }
    val components: Map[String, Seq[Form]] =
      allForms.groupBy(f => find(key(f)))
    final case class CanonRow(tag: String, surface: String, n: Long,
        nodeId: String, canonical: String)
    val memberOrder = new Ordering[Form] {
      def compare(a: Form, b: Form): Int = {
        val byN = java.lang.Long.compare(b.n, a.n)
        if (byN != 0) return byN
        val byLen = Integer.compare(
          b.surface.codePointCount(0, b.surface.length),
          a.surface.codePointCount(0, a.surface.length))
        if (byLen != 0) return byLen
        utf8Ordering.compare(a.surface, b.surface)
      }
    }
    val canonRows: Seq[CanonRow] = components.values.toSeq.flatMap { fs =>
      val leaders = scala.collection.mutable.ArrayBuffer.empty[Form]
      fs.sorted(memberOrder).map { f =>
        val leader = leaders.find(l => aliasMatchOracle(f.nk, l.nk))
          .getOrElse { leaders += f; f }
        CanonRow(f.tag, f.surface, f.n,
          f.tag + ":" + leader.surface, leader.surface)
      }
    }

    // nodes: group by (node_id, canonical, tag); aliases sorted UTF-8
    val nodeRows: Seq[(String, String, String, String, Long)] = canonRows
      .groupBy(r => (r.nodeId, r.canonical, r.tag)).toSeq
      .map { case ((nid, canon, tag), rs) =>
        (nid, canon, tag,
          rs.map(_.surface).distinct.sorted(utf8Ordering).mkString("|"),
          rs.map(_.n).sum)
      }
    val engNodes = graft.SparkEntry.queries("q_kg_nodes")(spark, "/unused")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toSeq
    println(s"canon nodes MATCH: ${nodeRows.sortBy(_._1) == engNodes.sortBy(_._1)} " +
      s"(oracle=${nodeRows.size}, engine=${engNodes.size})")
    if (nodeRows.sortBy(_._1) != engNodes.sortBy(_._1)) {
      (nodeRows.sortBy(_._1) zip engNodes.sortBy(_._1))
        .filter(p => p._1 != p._2).take(5).foreach(p =>
          println(s"  oracle=${p._1}\n  engine=${p._2}"))
    }
    require(nodeRows.sortBy(_._1) == engNodes.sortBy(_._1),
      "canonicalization nodes: engine != independent oracle — fix before minting")

    // edges: ReferenceOracle triples at 300 convs, endpoints rewritten
    // via the oracle's canonical map (FIXTURES.md §3 pred->obj-tag rule,
    // inlined independently of Canonicalize.predObjTag)
    val canonTriples: Seq[(String, Int, String, String, String)] =
      (0L until nCanon).flatMap { c =>
        TranscriptGen.turnsOfConv(42L, c, 8).flatMap { t =>
          val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
          val tags = EngineTags(model, t.text, toks).toIndexedSeq
          ReferenceOracle.extract(t.conv_id, t.turn_idx, t.role, t.text, toks, tags)
            .map { case (s2, p, o) => (t.conv_id, t.turn_idx, s2, p, o) }
        }
      }
    val titleMap = canonRows.filter(_.tag == "TITLE")
      .map(r => r.surface -> r.nodeId).toMap
    val vocalMap = canonRows
      .filter(r => r.tag == "VOCALIST" || r.tag == "VOCALOID")
      .groupBy(_.surface).map { case (sf, rs) =>
        sf -> rs.map(_.nodeId).min(utf8Ordering) }
    val objTagOf = Map("performed_by" -> "ORIGINAL_AUTHOR",
      "featuring" -> "FEATURING", "on_album" -> "ALBUM",
      "alt_title" -> "ALT_TITLE", "mentions_person" -> "MISC_PERSON",
      "modifier" -> "MODIFIER", "refers_to" -> "TITLE")
    val objMap = canonRows.map(r => (r.tag, r.surface) -> r.nodeId).toMap
    val edgeRows = canonTriples.map { case (cid, ti, s2, p, o) =>
      val src = titleMap.getOrElse(s2, s2)
      val dst =
        if (p == "vocal_by") vocalMap.getOrElse(o, o)
        else objTagOf.get(p).flatMap(ot => objMap.get((ot, o))).getOrElse(o)
      (src, p, dst, cid, ti)
    }
    def h8(s: String): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .take(4).map(b => f"${b & 0xff}%02x").mkString
      java.lang.Long.parseLong(hex, 16)
    }
    val edgeDigest: Seq[(String, Long, Long, Long, Long)] = edgeRows
      .groupBy(_._2).toSeq.map { case (p, rows) =>
        (p, rows.size.toLong,
          rows.map(_._1).distinct.size.toLong,
          rows.map(_._3).distinct.size.toLong,
          rows.map(r => h8(Seq(r._1, r._2, r._3, r._4, r._5.toString)
            .mkString("\u0001"))).sum)
      }
    val engEdges = graft.SparkEntry.queries("q_kg_edges")(spark, "/unused")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    println(s"canon edge digest MATCH: " +
      s"${edgeDigest.sortBy(_._1) == engEdges.sortBy(_._1)}")
    if (edgeDigest.sortBy(_._1) != engEdges.sortBy(_._1)) {
      println(s"  oracle: ${edgeDigest.sortBy(_._1)}")
      println(s"  engine: ${engEdges.sortBy(_._1)}")
    }
    require(edgeDigest.sortBy(_._1) == engEdges.sortBy(_._1),
      "canonicalization edges: engine != independent oracle — fix before minting")

    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/kg_nodes.sql"),
      nodeRows.sortBy(_._1)(utf8Ordering).map { case (nid, canon, tag, al, n) =>
        s"(${sq(nid)}, ${sq(canon)}, ${sq(tag)}, ${sq(al)}, $n)"
      }.mkString(",\n  "))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/kg_edges_digest.sql"),
      edgeDigest.sortBy(_._1).map { case (p, n, ns, nd, h) =>
        s"(${sq(p)}, $n, $ns, $nd, $h)"
      }.mkString(",\n  "))

    // ---- mention-source UNION oracle: gazetteer mentions from the
    // independent decode transcription ∪ quoted-span regex mentions from
    // an OWN regex + the raw gazetteer surface set (no Aho-Corasick),
    // span-deduped like Pipeline.mentionsFromDecoded; digested per
    // (tag, detector).
    // shared transcription: union mentions (gazetteer decode ∪ quoted-span
    // regex, span-deduped gazetteer-first) for a given turn list — used by
    // BOTH the mentions-digest and the linking oracles, which consume the
    // union at different pinned corpora
    def unionMentionRows(turns: Seq[graft.Schemas.Turn])
        : Seq[(String, Int, String, String, Int, Int, String)] = {
      val quoted = java.util.regex.Pattern.compile(
        "[\"“]([^\"“”]{2,64})[\"”]")
      val gazLower: Set[String] = graft.Gazetteer.entries
        .map(_.surface.toLowerCase(java.util.Locale.ROOT)).toSet
      turns.flatMap { t =>
        val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
        val tags = EngineTags(model, t.text, toks).toIndexedSeq
        val gaz = ReferenceOracle.meSubstitute(
          ReferenceOracle.decode(t.text, toks, tags),
          if (t.role == null) "" else t.role)
          .map { case (tag, txt, st, en) =>
            (t.conv_id, t.turn_idx, tag, txt, st, en, "gazetteer:ac") }
        val rex = {
          val m = quoted.matcher(t.text)
          val out = scala.collection.mutable.ArrayBuffer
            .empty[(String, Int, String, String, Int, Int, String)]
          while (m.find()) {
            // bounds follow the TRIMMED surface (String.trim's <= ' '
            // rule) so text == slice(start, end) — same spec as
            // Detector.regexMentions, transcribed independently
            var s = m.start(1); var e = m.end(1)
            while (s < e && t.text.charAt(s) <= ' ') s += 1
            while (e > s && t.text.charAt(e - 1) <= ' ') e -= 1
            val inner = t.text.substring(s, e)
            if (inner.nonEmpty &&
              !gazLower.contains(inner.toLowerCase(java.util.Locale.ROOT)))
              out += ((t.conv_id, t.turn_idx, "ALT_TITLE", inner,
                s, e, "regex:quoted"))
          }
          out.toSeq
        }
        // span dedup on (conv, turn, start, end, tag), gazetteer first
        val seen = scala.collection.mutable.Set.empty[(Int, Int, String)]
        (gaz ++ rex).filter { r =>
          seen.add((r._5, r._6, r._3))
        }
      }
    }
    val mentionDigest: Seq[(String, String, Long, Long)] = {
      val rows = unionMentionRows((0L until nCanon)
        .flatMap(c => TranscriptGen.turnsOfConv(42L, c, 8)) ++
        graft.SparkEntry.mentionFixtureTurns)
      rows.groupBy(r => (r._3, r._7)).toSeq.map { case ((tag, det), rs) =>
        (tag, det, rs.size.toLong,
          rs.map(r => h8(Seq(r._1, r._2.toString, r._3, r._4,
            r._5.toString, r._6.toString).mkString("\u0001"))).sum)
      }
    }
    val engMentions = graft.SparkEntry.queries("q_kg_mentions_digest")(spark, "/unused")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getLong(3))).toSeq
    println(s"mentions-union digest MATCH: " +
      s"${mentionDigest.sorted == engMentions.sorted}")
    if (mentionDigest.sorted != engMentions.sorted) {
      println(s"  oracle: ${mentionDigest.sorted}\n  engine: ${engMentions.sorted}")
    }
    require(mentionDigest.sorted == engMentions.sorted,
      "mentions union: engine != independent oracle — fix before minting")
    require(mentionDigest.exists(_._2 == "regex:quoted"),
      "fixture corpus must exercise the regex mention source")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/mentions_digest.sql"),
      mentionDigest.sorted.map { case (tag, det, n, h) =>
        s"(${sq(tag)}, ${sq(det)}, $n, $h)"
      }.mkString(",\n  "))

    // ---- linking oracle: independent transcription of the scoring
    // ladder (exact gazetteer / speaker / normalized / surface-form
    // fallback — Linker.linkOne semantics). Gazetteer tables are shared
    // DATA (like the fixture texts); the ladder logic is re-implemented.
    val linkRows: Seq[(String, Int, String, String, String, Double)] = {
      // independent transcription of Linker.norm's spec (lowercase, keep
      // \p{L}\p{N} codepoints): explicit codepoint walk, no shared regex
      def normL(s2: String): String = {
        val lower = s2.toLowerCase(java.util.Locale.ROOT)
        val sb = new java.lang.StringBuilder(lower.length)
        var i = 0
        while (i < lower.length) {
          val cp = lower.codePointAt(i)
          val t = Character.getType(cp)
          if (Character.isLetter(cp) || Character.isDigit(cp) ||
            t == Character.LETTER_NUMBER || t == Character.OTHER_NUMBER)
            sb.appendCodePoint(cp)
          i += Character.charCount(cp)
        }
        sb.toString
      }
      val exactIdx = graft.Gazetteer.linkIndex
      val normIdx: Map[String, String] = {
        val m = scala.collection.mutable.LinkedHashMap.empty[String, String]
        graft.Gazetteer.entries.sortBy(_.priority).foreach { e =>
          val k = normL(e.surface)
          if (k.nonEmpty && !m.contains(k)) m(k) = e.entityId
        }
        m.toMap
      }
      val speakerRoles = Set("user", "assistant", "system", "tool")
      // input = the FULL mention union at the linked gate's pinned corpus:
      // 300 convs + the mention fixtures + the LINKER fixtures (quoted
      // punctuation-variants of gazetteer surfaces whose normalized key
      // hits the 0.7 rung — without them the tier was vacuously green)
      val rows = unionMentionRows((0L until nCanon)
        .flatMap(c => TranscriptGen.turnsOfConv(42L, c, 8)) ++
        graft.SparkEntry.mentionFixtureTurns ++
        graft.SparkEntry.linkerFixtureTurns)
      rows.map { case (cid, ti, tag, txt, _, _, _) =>
        val lower = txt.toLowerCase(java.util.Locale.ROOT)
        val (eid, score): (String, Double) =
          exactIdx.get(lower).map(e => (e, 1.0))
            .orElse(if (speakerRoles.contains(lower))
              Some((s"speaker:$lower", 0.9)) else None)
            .orElse(normIdx.get(normL(txt)).map(e => (e, 0.7)))
            .getOrElse((s"sf:$tag:${normL(txt)}", 0.5))
        (cid, ti, tag, txt, eid, score)
      }
    }
    val linkDigest: Seq[(Double, Long, Long, Long)] = linkRows
      .groupBy(_._6).toSeq.map { case (score, rows) =>
        (score, rows.size.toLong,
          rows.map(_._5).distinct.size.toLong,
          rows.map(r => h8(Seq(r._1, r._2.toString, r._3, r._4, r._5)
            .mkString("\u0001"))).sum)
      }
    val engLinked = graft.SparkEntry.queries("q_kg_linked_digest")(spark, "/unused")
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSeq
    println(s"linked digest MATCH: ${linkDigest.sorted == engLinked.sorted}")
    if (linkDigest.sorted != engLinked.sorted) {
      println(s"  oracle: ${linkDigest.sorted}\n  engine: ${engLinked.sorted}")
    }
    require(linkDigest.sorted == engLinked.sorted,
      "linking: engine != independent oracle — fix before minting")
    require(linkDigest.exists(_._1 == 0.7),
      "fixture corpus must exercise the 0.7 normalized-lookup tier " +
        "(a tier that cannot fail is not gated)")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/linked_digest.sql"),
      linkDigest.sortBy(_._1).map { case (sc, n, ne, h) =>
        s"($sc, $n, $ne, $h)"
      }.mkString(",\n  "))

    // ---- coref oracle: independent single-threaded transcription of
    // the recency-window semantics (Coref.resolve: a titleless turn with
    // an anaphor refers to the most recent TITLE within 5 turns of the
    // same conversation; state updates AFTER resolving) over the same
    // pinned 300-conv corpus; digested like the edges gate.
    val anaphorRe = java.util.regex.Pattern.compile(
      "(?i)\\b(it|that (song|track|tune))\\b")
    val corefRows: Seq[(String, String, String, String, Int)] =
      (0L until nCanon).flatMap { c =>
        var recent = List.empty[(Int, String)]
        TranscriptGen.turnsOfConv(42L, c, 8).sortBy(_.turn_idx).flatMap { t =>
          val toks = PyText.tokenizeWithOffsets(t.text).toIndexedSeq
          val tags = EngineTags(model, t.text, toks).toIndexedSeq
          val ents = ReferenceOracle.meSubstitute(
            ReferenceOracle.decode(t.text, toks, tags),
            if (t.role == null) "" else t.role)
          val titles = ents.filter(_._1 == "TITLE").map(_._2)
          val out =
            if (titles.isEmpty && t.text != null &&
              anaphorRe.matcher(t.text).find()) {
              recent.find { case (ti, _) => t.turn_idx - ti <= 5 }
                .map { case (_, title) =>
                  (s"${t.conv_id}#${t.turn_idx}", "refers_to", title,
                    t.conv_id, t.turn_idx) }
                .toSeq
            } else Seq.empty
          titles.foreach(ti => recent = ((t.turn_idx, ti)) :: recent.take(5))
          out
        }
      }
    val corefDigest: Seq[(String, Long, Long, Long, Long)] = corefRows
      .groupBy(_._2).toSeq.map { case (p, rows) =>
        (p, rows.size.toLong,
          rows.map(_._1).distinct.size.toLong,
          rows.map(_._3).distinct.size.toLong,
          rows.map(r => h8(Seq(r._1, r._2, r._3, r._4, r._5.toString)
            .mkString("\u0001"))).sum)
      }
    val engCoref = graft.SparkEntry.queries("q_kg_coref_digest")(spark, "/unused")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSeq
    println(s"coref digest MATCH: ${corefDigest.sorted == engCoref.sorted}")
    if (corefDigest.sorted != engCoref.sorted) {
      println(s"  oracle: $corefDigest\n  engine: $engCoref")
    }
    require(corefDigest.sorted == engCoref.sorted,
      "coref: engine != independent oracle — fix before minting")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/coref_digest.sql"),
      corefDigest.sortBy(_._1).map { case (p, n, ns, nd, h) =>
        s"(${sq(p)}, $n, $ns, $nd, $h)"
      }.mkString(",\n  "))

    // ---- simhash oracle (VERDICT r3 item 3): expected near-dup pairs
    // over the pinned SparkEntry.simhashFixture, computed with a
    // FROM-SCRATCH xxHash64 (the public XXH64 spec) + simhash — no Spark
    // expression involved — and cross-checked signature-for-signature
    // against the engine before minting.
    def xxh64(bytes: Array[Byte], seed: Long): Long = {
      val P1 = 0x9E3779B185EBCA87L; val P2 = 0xC2B2AE3D27D4EB4FL
      val P3 = 0x165667B19E3779F9L; val P4 = 0x85EBCA77C2B2AE63L
      val P5 = 0x27D4EB2F165667C5L
      def rotl(x: Long, r: Int) = java.lang.Long.rotateLeft(x, r)
      def round(acc: Long, in: Long) = rotl(acc + in * P2, 31) * P1
      val len = bytes.length
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      var i = 0
      var h =
        if (len >= 32) {
          var v1 = seed + P1 + P2; var v2 = seed + P2
          var v3 = seed; var v4 = seed - P1
          while (i + 32 <= len) {
            v1 = round(v1, bb.getLong(i)); v2 = round(v2, bb.getLong(i + 8))
            v3 = round(v3, bb.getLong(i + 16)); v4 = round(v4, bb.getLong(i + 24))
            i += 32
          }
          var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
          for (v <- Seq(v1, v2, v3, v4)) { acc = (acc ^ round(0L, v)) * P1 + P4 }
          acc
        } else seed + P5
      h += len
      while (i + 8 <= len) {
        h = rotl(h ^ round(0L, bb.getLong(i)), 27) * P1 + P4; i += 8
      }
      if (i + 4 <= len) {
        h = rotl(h ^ ((bb.getInt(i) & 0xffffffffL) * P1), 23) * P2 + P3; i += 4
      }
      while (i < len) {
        h = rotl(h ^ ((bytes(i) & 0xffL) * P5), 11) * P1; i += 1
      }
      h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
      h
    }
    def simhashOracle(text: String): Long = {
      val toks = text.trim.toLowerCase(java.util.Locale.ROOT)
        .split("\\s+").filter(_.nonEmpty)
      var sig = 0L
      var j = 0
      while (j < 64) {
        var votes = 0
        toks.foreach { t2 =>
          val h = xxh64(t2.getBytes(java.nio.charset.StandardCharsets.UTF_8), 42L)
          votes += (if (((h >>> j) & 1L) == 1L) 1 else -1)
        }
        if (votes > 0) sig |= (1L << j)
        j += 1
      }
      sig
    }
    val fix = graft.SparkEntry.simhashFixture
    val oracleSigs: Map[Long, Long] =
      fix.map { case (id, txt) => id -> simhashOracle(txt) }.toMap
    locally {
      import spark.implicits._
      val engineSigs = fix.toDF("doc_id", "text")
        .select(org.apache.spark.sql.functions.col("doc_id"),
          graft.operators.DocDedup.simhash(
            org.apache.spark.sql.functions.col("text")).as("sig"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      println(s"simhash sigs MATCH: ${oracleSigs == engineSigs}")
      if (oracleSigs != engineSigs) {
        println(s"  oracle: ${oracleSigs.toSeq.sorted}")
        println(s"  engine: ${engineSigs.toSeq.sorted}")
      }
      require(oracleSigs == engineSigs,
        "simhash: Spark xxhash64 path != from-scratch XXH64 oracle — fix before minting")
    }
    // expected pairs: pigeonhole candidates (shared 16-bit chunk) with
    // hamming <= 3 — mirrors DocDedup.simhashPairs independently
    val simPairs = (for {
      (ia, sa) <- oracleSigs.toSeq
      (ib, sb) <- oracleSigs.toSeq if ia < ib
      if (0 until 4).exists(c => ((sa >>> (c * 16)) & 0xFFFFL) == ((sb >>> (c * 16)) & 0xFFFFL))
      ham = java.lang.Long.bitCount(sa ^ sb) if ham <= 3
    } yield (ia, ib, ham)).sorted
    println(s"simhash fixture pairs: $simPairs")
    require(simPairs.nonEmpty && simPairs.exists(_._3 > 0),
      "simhash fixture must yield exact AND near pairs — adjust fixture")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("/tmp/simhash_pairs.sql"),
      simPairs.map { case (a, b, h) => s"($a, $b, $h)" }.mkString(",\n  "))

    println("wrote /tmp/kg_pred_counts.sql, /tmp/kg_sample.sql, " +
      "/tmp/kg_mention_tags.sql, /tmp/predict_tag_counts.sql, " +
      "/tmp/predict_sample.sql, /tmp/kg_nodes.sql, /tmp/kg_edges_digest.sql, " +
      "/tmp/simhash_pairs.sql")
    spark.stop()
  }
}
