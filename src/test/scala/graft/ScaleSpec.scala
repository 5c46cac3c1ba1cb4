package graft

import org.apache.spark.sql.functions._
import graft.operators.{Coref, SkewSalting}
import graft.synth.TranscriptGen
import graft.functions.CatalystExprs

/** Scale-machinery specs: skew salting equivalence, plan-shape audits
  * (shuffle budget, pushdown), Catalyst expression parity, streaming. */
class ScaleSpec extends SparkSuite {

  test("salted coref == unsalted coref (overlap-context equivalence)") {
    import spark.implicits._
    // conv 0 is the hot conversation (320 turns) -> gets chunked
    val turns = TranscriptGen.generate(spark, 25L)
    val decoded = Pipeline.decodeTurns(spark, turns)
    val plain = Coref.resolve(spark, decoded, window = 5).collect().toSet
    val salted = SkewSalting.corefSalted(spark, decoded, window = 5,
      chunkSize = 50).collect().toSet
    assert(plain.nonEmpty, "fixture must exercise coref")
    assert(salted == plain)
    // SPARSE turn indices: the hot map keys the overlap rule on max
    // turn_idx, not row count — a count proxy under-states the index
    // space and silently drops context rows at chunk boundaries (an
    // upstream filter leaving every other turn is enough to trip it)
    val sparse = decoded.filter(d => d.turn_idx % 2 == 0)
    val plainSparse = Coref.resolve(spark, sparse, window = 5)
      .collect().toSet
    val saltedSparse = SkewSalting.corefSalted(spark, sparse, window = 5,
      chunkSize = 50).collect().toSet
    assert(saltedSparse == plainSparse,
      "salted coref diverged on a sparse turn_idx space")
  }

  test("salting guard: too many hot conversations fails loudly, not silently") {
    import spark.implicits._
    // 12 conversations of 8 turns each, chunkSize=2 -> every conv is "hot";
    // with maxHotConvs=5 the Zipf assumption is violated and salt must
    // THROW (a driver-collected hot map would bloat), while a bound that
    // accommodates the set still salts fine
    val decoded = (0 until 12).flatMap { c =>
      (0 until 8).map(i =>
        Schemas.DecodedTurn(s"conv$c", i, "user", null, "text", Nil))
    }.toDS()
    val e = intercept[IllegalStateException] {
      SkewSalting.salt(spark, decoded, chunkSize = 2, overlap = 1,
        maxHotConvs = 5).count()
    }
    assert(e.getMessage.contains("chunkSize"))
    assert(SkewSalting.salt(spark, decoded, chunkSize = 2, overlap = 1,
      maxHotConvs = 100).count() > 0)
  }

  test("extraction core is a single narrow stage: NO shuffle exchange") {
    import spark.implicits._
    val turns = TranscriptGen.generate(spark, 5L)
    val plan = Pipeline.extract(spark, turns).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"),
      s"extract() must stay narrow (detect/decode/dedup/triples are row-local); got:\n$plan")
  }

  test("fused packed extract == staged detect->decode->triples pipeline") {
    import spark.implicits._
    import graft.operators.Triples
    val turns = TranscriptGen.generate(spark, 40L)
    val fused = Pipeline.extract(spark, turns).collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    // the checkpointed build's staging: decodeTurns -> Triples.triples
    val staged = Triples.triples(spark,
      Pipeline.decodeTurns(spark, turns)).collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    assert(fused.nonEmpty && fused == staged)
  }

  test("parquet scan prunes columns and pushes filters") {
    val df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
      .where(col("l_orderkey") < 100)
      .select("l_orderkey", "l_quantity")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_orderkey), LessThan(l_orderkey,100)]"),
      s"filter must reach the scan:\n$plan")
    assert(plan.contains("ReadSchema") &&
      plan.contains("struct<l_orderkey:bigint,l_quantity:double>"),
      s"scan must read only 2 columns:\n$plan")
  }

  test("join/agg queries use whole-stage codegen and broadcast the dim side") {
    val q = SparkEntry.queries("q_join_revenue_by_nation")
    val df = q(spark, "/root/testdata/sf0.001")
    df.collect() // finalize the adaptive plan before inspecting it
    val plan = df.queryExecution.executedPlan.toString
    // whole-stage codegen renders as "*(n)" stage markers in toString
    assert(plan.contains("*("), s"no codegen span:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"dims must broadcast:\n$plan")
  }

  test("bucketed co-located join plans with NO shuffle exchange") {
    import spark.implicits._
    import graft.operators.Bucketing
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force non-broadcast
    try {
      val a = (1 to 1000).map(i => (i.toLong, s"a$i")).toDF("k", "va")
      val b = (1 to 1000).map(i => (i.toLong, s"b$i")).toDF("k", "vb")
      Bucketing.writeBucketed(a, "bkt_a", "k", 8)
      Bucketing.writeBucketed(b, "bkt_b", "k", 8)
      val j = Bucketing.colocatedJoin(spark, "bkt_a", "bkt_b", "k")
      j.collect()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.contains("Exchange"),
        s"bucketed join must not shuffle:\n$plan")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS bkt_a")
      spark.sql("DROP TABLE IF EXISTS bkt_b")
    }
  }

  test("edges join broadcasts the canonical maps: triples stream never shuffles") {
    import spark.implicits._
    import graft.operators.{Canonicalize, Triples}
    val turns = TranscriptGen.generate(spark, 25L)
    val decoded = Pipeline.decodeTurns(spark, turns)
    // materialize the map first (as runCheckpointed/canonPrefix do) so
    // the inspected plan is the EDGES stage alone, not the map build
    val canon = Canonicalize.canonicalMap(spark,
      graft.operators.Decode.mentions(spark, decoded).toDF()).localCheckpoint()
    val e = Canonicalize.edges(spark, Triples.triples(spark, decoded), canon)
    e.collect() // finalize adaptive plan
    val plan = e.queryExecution.executedPlan.toString
    // all three map joins must be broadcast — a sort-merge/shuffled-hash
    // join here would re-shuffle the (huge) triple stream on a skewed
    // surface key. (The canonMap build inside the broadcast subtrees has
    // its own joins, so assert >= 3 BHJ and ZERO shuffle-side joins
    // anywhere rather than an exact count.)
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"expected the 3 map joins to broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"triples side must not shuffle:\n$plan")
  }

  test("incremental edge re-map over UNIONED snapshots keeps the no-shuffle plan") {
    import spark.implicits._
    import graft.operators.{Canonicalize, Triples}
    // the runIncremental edge stage reads a UNION of per-batch parquet
    // snapshots — the union must stay on the narrow side (parquet scans
    // concatenate; no exchange is needed to union), so the re-map pass
    // keeps the exact plan shape the single-snapshot path pins above
    val turns = TranscriptGen.generate(spark, 20L)
    val decoded = Pipeline.decodeTurns(spark, turns)
    val dir = java.nio.file.Files.createTempDirectory("edges_union").toString
    val t = Triples.triples(spark, decoded).toDF()
    t.where(col("turn_idx") % 2 === 0).write.parquet(s"$dir/b0")
    t.where(col("turn_idx") % 2 === 1).write.parquet(s"$dir/b1")
    val unioned = spark.read.parquet(s"$dir/b0")
      .unionByName(spark.read.parquet(s"$dir/b1"))
    val canon = Canonicalize.canonicalMap(spark,
      graft.operators.Decode.mentions(spark, decoded).toDF()).localCheckpoint()
    val e = Canonicalize.edges(spark,
      unioned.as[Schemas.Triple], canon)
    e.collect()
    val plan = e.queryExecution.executedPlan.toString
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 3,
      s"unioned-snapshot re-map must broadcast the maps:\n$plan")
    // same criterion as the single-snapshot pin above: a shuffle-side
    // join anywhere would mean the triple stream re-partitioned (the
    // broadcast subtrees legitimately contain their own exchanges)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin") &&
      !plan.contains("CartesianProduct"),
      s"unioned triple snapshots must not shuffle:\n$plan")
  }

  test("top-K plans TakeOrderedAndProject; ranked queries carry no global window") {
    import graft.operators.TopK
    val rev = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .groupBy("o_custkey")
      .agg(round(sum("o_totalprice"), 2).as("revenue"))
    val plan = TopK.top(rev, 10,
      Seq(col("revenue").desc, col("o_custkey").asc))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-K must plan TakeOrderedAndProject:\n$plan")
    // assert the PRE-collect plan for the vocab query's distributed part
    // too (TopK.ranked collects then re-parallelizes, so inspecting the
    // final ranked DataFrame would be vacuous — it is just a scan of
    // driver-local rows regardless of how the top-K was computed)
    val words = spark.read
      .parquet("/root/testdata/sf0.001/documents.parquet")
      .select(explode(split(trim(col("text")), "\\s+")).as("word"))
      .where(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val vocabPlan = TopK.top(words, 20,
      Seq(col("cnt").desc, col("word").asc))
      .queryExecution.executedPlan.toString
    assert(vocabPlan.contains("TakeOrderedAndProject") &&
      !vocabPlan.contains("Window"),
      s"vocab top-K must plan TakeOrderedAndProject, no window:\n$vocabPlan")
  }

  test("levenshtein pair query is a blocked equi-join, not a cartesian product") {
    val df = SparkEntry.queries("q_word_pairs_lev")(spark, "/root/testdata/sf0.001")
    df.collect() // finalize adaptive plan
    val p = df.queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"self-join must be length-blocked:\n$p")
  }

  test("Catalyst StaticInvoke/doGenCode expressions match the Scala semantics") {
    import spark.implicits._
    val df = Seq("o'neill's SONG", "miku's", "日本語 test", "Tavaszi Szél")
      .toDF("s")
    val got = df.select(
      CatalystExprs.pyTitleCase(col("s")).as("t"),
      CatalystExprs.normalizeAscii(col("s")).as("n"),
      CatalystExprs.cpToUtf16(col("s"), lit(2)).as("u16"),
      CatalystExprs.utf16ToCp(col("s"), lit(2)).as("cp"))
      .collect()
    val exp = Seq("o'neill's SONG", "miku's", "日本語 test", "Tavaszi Szél")
    got.zip(exp).foreach { case (r, s) =>
      assert(r.getString(0) == graft.functions.PyText.pyTitle(s))
      assert(r.getInt(2) == graft.functions.PyText.cpToUtf16(s, 2))
      assert(r.getInt(3) == graft.functions.PyText.utf16ToCp(s, 2))
    }
    // NFKD fold strips the accent
    val n = df.where(col("s") === "Tavaszi Szél")
      .select(CatalystExprs.normalizeAscii(col("s"))).head.getString(0)
    assert(n == "Tavaszi Szel")
    // mojibake repair as a column function (fix_text → NFKD order)
    val m = Seq("CafÃ©").toDF("s")
      .select(CatalystExprs.fixMojibake(col("s"))).head.getString(0)
    assert(m == "Café")
  }

  test("normalizeAscii transliterates Greek/Cyrillic/Kana (unidecode analog)") {
    import spark.implicits._
    val cases = Seq(
      ("Αθήνα", "Athina"), // Greek incl. accented eta (mark stripped first)
      ("Чайковский", "Chaikovskii"), // Cyrillic, BGN-like
      ("Москва 1812", "Moskva 1812"),
      ("はつねみく", "hatsunemiku"), // hiragana
      ("ハツネ ミク", "hatsune miku"), // katakana
      ("きゃりー", "kyarii"), // digraph + long-vowel mark
      ("しゃちょう", "shachou"), // sha digraph (not shya)
      ("じゃがいも", "jagaimo"), // ja digraph
      ("きっと", "kitto"), // sokuon gemination
      ("ひゃく", "hyaku"), // hi+small-ya keeps the y (not "haku")
      ("にゅう", "nyuu"), // ni+small-yu
      ("ヴォーカロイド", "vookaroido"), // vu + small vowel + long mark
      ("がぎぐげご", "gagigugego"), // voicing marks survive the NFKD strip
      ("あっ", "atsu"), // trailing sokuon emits its standalone reading
      ("まって初音", "matte初音"), // geminating sokuon before unmapped Han
      ("あっ初音", "atsu初音"), // unconsumed sokuon before unmapped Han
      ("っお", "tsuo"), // sokuon before a vowel-initial syllable
      ("一ヶ月", "一ke月"), // small ke (counter) now mapped
      ("初音ミク", "初音miku"), // Han passes through (documented divergence)
      ("Tavaszi Szél", "Tavaszi Szel"), // Latin accents still fold
      ("ｆｕｌｌｗｉｄｔｈ１２３", "fullwidth123")) // NFKD compatibility
    val got = cases.map(_._1).toDF("s")
      .select(CatalystExprs.normalizeAscii(col("s"))).collect()
      .map(_.getString(0)).toSeq
    assert(got == cases.map(_._2),
      got.zip(cases).filter(p => p._1 != p._2._2).mkString("; "))
  }

  test("driver graph-stage column twins == Spark expressions (incl. astral)") {
    import spark.implicits._
    import graft.operators.Canonicalize
    // the whole-stage hybrid's correctness rests on normKeyJvm/substrCp/
    // reverseCp reproducing the column fns the distributed path uses —
    // pin them against the REAL Spark expressions on hostile strings
    // (astral clefs/notes, combining marks, fullwidth, CJK, mixed case)
    val rnd = new scala.util.Random(77L)
    val pool = Array("a", "B", "z", "0", "9", "!", "-", " ", "夜", "駆",
      "á", "Ő", "ß", "Σ", "σ", "ς", "🎵", "𝄞", "　", "ﾞ", "１", "Ｋ", ".")
    val strings = (0 until 120).map { _ =>
      (0 until rnd.nextInt(12)).map(_ => pool(rnd.nextInt(pool.length))).mkString
    } :+ "" :+ "🎵𝄞🎵" :+ "𝄞abc"
    val df = strings.toDF("s").select(col("s"),
      regexp_replace(lower(col("s")), "[^\\p{L}\\p{N}]", "").as("nk"),
      substring(col("s"), 1, 2).as("sub2"),
      reverse(col("s")).as("rev"))
    df.collect().foreach { r =>
      val in = r.getString(0)
      assert(Canonicalize.normKeyJvm(in) == r.getString(1),
        s"normKey twin diverged on '$in'")
      assert(Canonicalize.substrCp(in, 2) == r.getString(2),
        s"substr twin diverged on '$in'")
      assert(Canonicalize.reverseCp(in) == r.getString(3),
        s"reverse twin diverged on '$in'")
    }
  }

  test("streaming ingestion: same triples as batch, duplicates dropped") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val batchTurns = TranscriptGen.turnsOfConv(42L, 3L, 8)
    implicit val sq = spark.sqlContext
    val mem = MemoryStream[Schemas.Turn]
    mem.addData(batchTurns)
    mem.addData(batchTurns.take(3)) // duplicates — must be dropped
    val triples = graft.streaming.StreamingIngest.tripleStream(spark, mem.toDS())
    val q = triples.writeStream.format("memory").queryName("t_out")
      .outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val got = spark.table("t_out").as[Schemas.Triple].collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    val expected = Pipeline.extract(spark, batchTurns.toDS()).collect()
      .map(t => (t.conv_id, t.turn_idx, t.subj, t.pred, t.obj)).sorted.toSeq
    assert(got == expected)
  }
}
