package graft

import org.apache.spark.sql.functions._
import graft.operators.{AsOfJoin, VideoPipeline, Vocab, Metrics}
import graft.functions.TextFeatures
import graft.sources.Tables

/** Reference-shaped offline pipeline stages (SURVEY.md §3.2) + vocab +
  * argmax + sources coverage. */
class VideoPipelineSpec extends SparkSuite {

  private lazy val videos = {
    import spark.implicits._
    Seq(
      ("v1", "ja", "Senbonzakura cover", "sung by Miku",
        "MikuFan",
        Seq((0, 12, "title", "Senbonzakura", "TITLE"),
          (8, 12, "description", "Miku", "VOCALOID"))))
      .toDF("yt_id", "language", "title", "description", "channel_name", "ner0")
      .withColumn("ner", transform(col("ner0"), n => struct(
        n.getField("_1").as("start"), n.getField("_2").as("end"),
        n.getField("_3").as("source"), n.getField("_4").as("entry"),
        n.getField("_5").as("type"))))
      .drop("ner0")
  }

  test("P2: doc text concat + description-span shift by len(title)+7") {
    val doc = VideoPipeline.preprocess(videos).head()
    val text = doc.getAs[String]("text")
    assert(text == "Senbonzakura cover [SEP] sung by Miku")
    val ner = doc.getSeq[org.apache.spark.sql.Row](doc.fieldIndex("ner"))
    val title = ner.find(_.getAs[String]("type") == "TITLE").get
    val voc = ner.find(_.getAs[String]("type") == "VOCALOID").get
    assert(title.getAs[Int]("start") == 0 && title.getAs[Int]("end") == 12)
    // shift = len("Senbonzakura cover") + 7 = 25
    assert(voc.getAs[Int]("start") == 33 && voc.getAs[Int]("end") == 37)
    assert(text.substring(33, 37) == "Miku")
  }

  test("full training prep: tokenize + D8 alignment produces correct labels") {
    val out = VideoPipeline.prepare(spark, videos)
      .orderBy("pos").collect().map(r => r.getInt(2))
    // tokens: Senbonzakura(TITLE=2) cover(O) [ ( SEP(O) ] ) sung by Miku(VOCALOID=4)
    assert(out.contains(2) && out.contains(4))
    assert(out.count(_ == 2) == 1) // only the first TITLE word
  }

  test("fetch validation: spans must slice their source to entry (database.py:103-118)") {
    import spark.implicits._
    // clean corpus -> zero violations
    assert(VideoPipeline.validateSpans(videos).count() == 0)
    // one corrupted span (off-by-one start) + one wrong-source span
    val corrupted = Seq(
      ("v2", "Senbonzakura cover", "sung by Miku",
        Seq((1, 13, "title", "Senbonzakura", "TITLE"), // slices "enbonzakura "
          (8, 12, "description", "Miku", "VOCALOID"), // clean
          (0, 4, "title", "Miku", "VOCALOID")))) // title[0:4)="Senb" != Miku
      .toDF("yt_id", "title", "description", "ner0")
      .withColumn("ner", transform(col("ner0"), n => struct(
        n.getField("_1").as("start"), n.getField("_2").as("end"),
        n.getField("_3").as("source"), n.getField("_4").as("entry"),
        n.getField("_5").as("type"))))
      .drop("ner0")
    val v = VideoPipeline.validateSpans(corrupted)
      .orderBy("ner_idx").collect()
    assert(v.length == 2)
    assert(v(0).getAs[Int]("ner_idx") == 0 &&
      v(0).getAs[String]("got") == "enbonzakura ")
    assert(v(1).getAs[Int]("ner_idx") == 2 &&
      v(1).getAs[String]("got") == "Senb")
  }

  test("D8/W4 subword alignment: word_id != pos, -100 on continuations and special tokens") {
    import graft.operators.LabelAlign
    import spark.implicits._
    // HF-style subtokens for "Senbonzakura by Miku": [CLS] + Senbon/zakura
    // + by + Mi/ku + [SEP]; word_id None (null) on the special tokens
    val tokens = Seq(
      ("d1", 0, Option.empty[Int], 0, 0), // [CLS]
      ("d1", 1, Some(0), 0, 6), // Senbon
      ("d1", 2, Some(0), 6, 12), // zakura (continuation)
      ("d1", 3, Some(1), 13, 15), // by
      ("d1", 4, Some(2), 16, 18), // Mi
      ("d1", 5, Some(2), 18, 20), // ku (continuation)
      ("d1", 6, Option.empty[Int], 0, 0)) // [SEP]
      .toDF("doc", "pos", "word_id", "tok_start", "tok_end")
    val spans = Seq(("d1", 0, 12, "TITLE"), ("d1", 16, 20, "VOCALOID"))
      .toDF("doc", "ner_start", "ner_end", "tag")
    val got = LabelAlign.align(spark, tokens, spans)
      .orderBy("pos").collect().map(_.getInt(2)).toSeq
    // hand-computed (tokenize.py:13-39): [CLS]->-100, first-subtoken of a
    // span-covered word -> tag id, continuation -> -100, uncovered -> 0
    val title = Gazetteer.TagToId("TITLE")
    val vocaloid = Gazetteer.TagToId("VOCALOID")
    assert(got == Seq(-100, title, -100, 0, vocaloid, -100, -100))
  }

  test("A1/J5: vocab build deterministic ids; encode with OOV=1") {
    import spark.implicits._
    val docs = Seq(Seq("b", "a", "b", "c"), Seq("b", "a", "zzz"))
      .toDF("tokens")
    val v = Vocab.build(docs, "tokens", size = 2)
    val ids = v.collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(ids == Map("b" -> 2, "a" -> 3)) // count desc, word asc; ids from 2
    val enc = Vocab.encode(spark, docs, "tokens", v)
      .select("ids").as[Seq[Int]].collect()
    assert(enc(0) == Seq(2, 3, 2, 1)) // c -> OOV 1
    assert(enc(1) == Seq(2, 3, 1))
  }

  test("F14 argmax: first max wins (np.argmax semantics)") {
    import spark.implicits._
    val df = Seq(Seq(0.1, 0.9, 0.9, 0.2)).toDF("scores")
    assert(df.select(TextFeatures.argmaxCol(col("scores"))).head.getInt(0) == 1)
  }

  test("O2 length-sorted shuffle is deterministic given the seed") {
    import spark.implicits._
    val df = Seq(Seq(1, 2, 3), Seq(1), Seq(1, 2)).toDF("xs")
    val a = Metrics.lengthSortedShuffle(df, "xs").collect().toSeq
    val b = Metrics.lengthSortedShuffle(df, "xs").collect().toSeq
    assert(a == b)
    assert(a.map(_.getSeq[Int](0).size) == Seq(1, 2, 3))
    // ...and under ANY partitioning: rand(seed) would seed per partition
    // and reorder equal-length ties when parallelism changes — the
    // content-hash tie-break must not
    val wide = (1 to 40).map(i => Seq.fill(3)(i)).toDF("xs")
    val p1 = Metrics.lengthSortedShuffle(wide.coalesce(1), "xs")
      .collect().toSeq
    val p8 = Metrics.lengthSortedShuffle(wide.repartition(8), "xs")
      .collect().toSeq
    assert(p1 == p8, "shuffle order changed with partitioning")
    // map-typed columns stay OUT of the tie-break hash (Spark's hash
    // exprs reject MapType) — the operator must accept any schema, as
    // rand(seed) did
    val withMap = Seq((Seq(1, 2), Map("a" -> 1)), (Seq(3), Map("b" -> 2)))
      .toDF("xs", "feats")
    val m = Metrics.lengthSortedShuffle(withMap, "xs").collect().toSeq
    assert(m.map(_.getSeq[Int](0).size) == Seq(1, 2))
  }

  test("as-of join: null right payload is a MATCH, not a carry of older rows") {
    import spark.implicits._
    val left = Seq(("k", 6L, "l1"), ("k", 0L, "l0")).toDF("key", "t", "lv")
    val right = Seq(("k", 1L, Some("a")), ("k", 5L, None))
      .toDF("key", "t", "payload")
    val out = AsOfJoin.asOf(left, right, "key", "t", "payload")
      .orderBy("t").collect()
    // t=0 precedes every right row -> dropped (inner as-of); t=6's as-of
    // row is (t=5, payload=null) — it must surface that null, not reach
    // back to (t=1, "a")
    assert(out.length == 1 && out(0).getAs[String]("lv") == "l1")
    assert(out(0).isNullAt(out(0).fieldIndex("payload")),
      s"expected the t=5 null-payload match, got ${out(0)}")
  }

  test("token rows join reference spans in codepoint space (astral-safe)") {
    import spark.implicits._
    // title starts with an astral char (musical clef, 1 codepoint = 2
    // UTF-16 units): reference NER spans index CODEPOINTS, so token
    // offsets must too or every span after the clef is off by one
    val note = new String(Character.toChars(0x1D11E))
    val vids = Seq(
      ("v9", s"$note Senbonzakura cover", "plain words only",
        Seq((2, 14, "title", "Senbonzakura", "TITLE"))))
      .toDF("yt_id", "title", "description", "ner0")
      .withColumn("ner", transform(col("ner0"), n => struct(
        n.getField("_1").as("start"), n.getField("_2").as("end"),
        n.getField("_3").as("source"), n.getField("_4").as("entry"),
        n.getField("_5").as("type"))))
      .drop("ner0")
    val labeled = VideoPipeline.prepare(spark, vids).collect()
    // exactly the Senbonzakura token lands inside its span (UTF-16 token
    // offsets would shift it out and label nothing)
    assert(labeled.count(_.getInt(2) != 0) == 1, labeled.mkString(","))
  }

  test("predict(): serving-path parity vs the reference oracle, channel me-sub") {
    import spark.implicits._
    import graft.functions.PyText
    import graft.operators.Detector
    val vids = Seq(
      ("v1", "Senbonzakura covered by Hachi", "vocals by Hatsune Miku", "MikuFanChannel"),
      ("v2", "Melt remixed by me", "from the album Re:Dial", "WowakaFan"),
      ("v3", "random chatter", "nothing to see", "Nobody"))
      .toDF("yt_id", "title", "description", "channel_name")
    val got = VideoPipeline.predict(spark, vids).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    // oracle: reference semantics per doc, channel_name as the speaker
    val model = Detector.buildModel()
    val expected = Seq(
      ("v1", "Senbonzakura covered by Hachi", "vocals by Hatsune Miku", "MikuFanChannel"),
      ("v2", "Melt remixed by me", "from the album Re:Dial", "WowakaFan"),
      ("v3", "random chatter", "nothing to see", "Nobody"))
      .flatMap { case (id, title, desc, channel) =>
        val text = s"$title [SEP] $desc"
        val toks = PyText.tokenizeWithOffsets(text).toIndexedSeq
        val tags = EngineTags(model, text, toks).toIndexedSeq
        val ents = ReferenceOracle.meSubstitute(
          ReferenceOracle.decode(text, toks, tags), channel)
        ReferenceOracle.structuredResult(ents).toSeq.flatMap { case (tag, es) =>
          es.map(e => (id, tag, e))
        }
      }.toSet
    assert(got == expected)
    // the me-entity resolved to the channel name (reference src/prod.py:119-125)
    assert(got.contains(("v2", "ORIGINAL_AUTHOR", "WowakaFan")))
    assert(got.contains(("v2", "MODIFIER", "Remix"))) // lemma + title-case
    assert(!got.exists(_._1 == "v3")) // no entities in chatter
  }

  test("S2/S3: JSON round-trip with explicit schema; parquet drift check") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("tbl").toString
    val df = Seq(("a", 1), ("b", 2)).toDF("k", "v")
    Tables.writeJson(df, s"$dir/j")
    val back = Tables.readJson(spark, s"$dir/j", df.schema)
    assert(back.orderBy("k").collect().toSeq == df.orderBy("k").collect().toSeq)
    df.write.parquet(s"$dir/p")
    assert(Tables.readParquet(spark, s"$dir/p", Some(df.schema)).count() == 2)
    intercept[IllegalArgumentException] {
      Tables.readParquet(spark, s"$dir/p",
        Some(new org.apache.spark.sql.types.StructType()
          .add("wrong", "string")))
    }
  }
}
