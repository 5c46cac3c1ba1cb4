package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{DocDedup, Similarity, TextAnalysis}

/**
 * r06 optimization equivalence gates: the three interpreted HOF expression
 * chains that were rewritten as codegen'd single-pass kernels (cosine,
 * langId, simhash) are pinned HERE against their ORIGINAL column
 * formulations, reproduced verbatim below as independent references —
 * including the null / empty / unequal-length / tie quirks the rewrites
 * had to preserve. The driver's value gates (q_confusion, q_langid,
 * q_simhash_pairs, q_embed_*) cover the organic corpora; this spec covers
 * the edge cases those corpora may lack.
 */
class OptEquivSpec extends SparkSuite {

  // ---- original formulations (pre-r06), kept as references ----

  private def cosineHof(a: Column, b: Column): Column = {
    val dot = aggregate(zip_with(a, b, (x, y) => x * y),
      lit(0.0), (acc, v) => acc + v)
    val na = sqrt(aggregate(a, lit(0.0), (acc, v) => acc + v * v))
    val nb = sqrt(aggregate(b, lit(0.0), (acc, v) => acc + v * v))
    when(na > 0 && nb > 0, dot / (na * nb)).otherwise(lit(0.0))
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "is", "was", "it", "in"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ich", "ein"),
    "fr" -> Seq("le", "la", "les", "et", "est", "je", "un", "une"),
    "es" -> Seq("el", "la", "los", "y", "es", "un", "una", "que"),
    "zh" -> Seq("的", "是", "了", "在", "我", "有"))

  private def langIdHof(text: Column): Column = {
    val toks = split(lower(text), "\\s+")
    val scores = langProfiles.zipWithIndex.map { case ((lang, words), i) =>
      struct(
        size(filter(toks, t => t.isin(words.map(lit(_)): _*))).as("score"),
        lit(-i).as("prio"),
        lit(lang).as("lang"))
    }
    val best = array_max(array(scores: _*))
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  private def simhashHof(text: Column): Column = {
    val toks = filter(split(lower(trim(text)), "\\s+"), t => t =!= "")
    val bits = (0 until 64).map { j =>
      val votes = aggregate(toks, lit(0),
        (acc, t) => acc + when(shiftright(xxhash64(t), j).bitwiseAND(1) === 1,
          1).otherwise(-1))
      when(votes > 0, shiftleft(lit(1L), j)).otherwise(lit(0L))
    }
    bits.reduce((x: Column, y: Column) => x.bitwiseOR(y))
  }

  // ---- fixtures ----

  private lazy val textFixtures = {
    import spark.implicits._
    Seq[(Long, String)](
      (1L, "the cat sat on the mat and it was fine"),
      (2L, "der hund ist nicht da und ich bin ein mensch"),
      (3L, "le chat est sur la table et je suis un homme"),
      (4L, "el gato es un animal y la casa es una cosa"),
      (5L, "的 是 了 在 我 有"),
      (6L, "la un"), // fr/es overlap words only -> tie, earlier profile wins
      (7L, ""),
      (8L, null),
      (9L, "   \t\n  "),
      (10L, "xyzzy plugh nothing matches here"),
      (11L, "the und le el 的"), // every profile scores 1 -> earliest wins
      (12L, "  leading and trailing   spaces the the  "),
      (13L, "tab\tseparated\tthe\tand\nnewline"),
      (14L, "UPPER THE AND OF NICHT"), // lowercasing matters
      (15L, "日本語のテキスト the と混ざった and 文")
    ).toDF("id", "text")
  }

  test("langId static == original HOF chain on edge-case fixtures") {
    val both = textFixtures.select(col("id"),
      TextAnalysis.langId(col("text")).as("fast"),
      langIdHof(col("text")).as("ref")).collect()
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2),
        s"langId diverged at id=${r.getLong(0)}: " +
          s"fast=${r.getString(1)} ref=${r.getString(2)}")
    }
  }

  test("simhash static == original 64-HOF chain on edge-case fixtures") {
    val both = textFixtures.select(col("id"),
      DocDedup.simhash(col("text")).as("fast"),
      simhashHof(col("text")).as("ref")).collect()
    both.foreach { r =>
      assert(r.getLong(1) == r.getLong(2),
        s"simhash diverged at id=${r.getLong(0)}: " +
          s"fast=${r.getLong(1)} ref=${r.getLong(2)}")
    }
    // and on the pinned driver fixture (the q_simhash_pairs corpus)
    import spark.implicits._
    val fix = SparkEntry.simhashFixture.toDF("doc_id", "text")
    val cmp = fix.select(DocDedup.simhash(col("text")).as("fast"),
      simhashHof(col("text")).as("ref")).collect()
    cmp.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("cosine expression == original HOF chain: double arrays") {
    import spark.implicits._
    val rows = Seq(
      (Array(1.0, 2.0, 3.0), Array(1.0, 2.0, 3.0)), // identical
      (Array(1.0, 0.0), Array(0.0, 1.0)), // orthogonal
      (Array(0.0, 0.0), Array(1.0, 1.0)), // zero norm -> 0.0
      (Array.empty[Double], Array.empty[Double]), // empty -> 0.0
      (Array(1.0, 2.0), Array(2.0, 4.0, 0.0)), // unequal lengths
      (Array(-1.5, 2.5, -3.5), Array(0.1, -0.2, 0.3))
    ).toDF("a", "b")
    val got = rows.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      cosineHof(col("a"), col("b")).as("ref")).collect()
    got.foreach { r =>
      val (f, g) = (Option(r.get(0)), Option(r.get(1)))
      assert(f == g, s"cosine(double) diverged: fast=$f ref=$g")
    }
  }

  test("cosine expression == original HOF chain: float arrays (widening)") {
    import spark.implicits._
    // values chosen so float-vs-double multiply rounding is observable if
    // the kernel widened BEFORE the product instead of after
    val rows = Seq(
      (Array(0.1f, 0.2f, 0.3f), Array(0.3f, 0.2f, 0.1f)),
      (Array(1.1f, -2.2f, 3.3f), Array(3.3f, 2.2f, -1.1f)),
      (Array(1e-7f, 1e7f), Array(1e7f, 1e-7f)),
      (Array(0f, 0f), Array(1f, 2f))
    ).toDF("a", "b")
    val got = rows.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      cosineHof(col("a"), col("b")).as("ref")).collect()
    got.foreach { r =>
      assert(java.lang.Double.compare(r.getDouble(0), r.getDouble(1)) == 0,
        s"cosine(float) diverged: fast=${r.getDouble(0)} ref=${r.getDouble(1)}")
    }
  }

  test("cosine expression: null array and null element quirks") {
    import spark.implicits._
    val rows = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), None),
      (None, Some(Seq(Some(1.0), Some(2.0)))),
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(1.0), Some(2.0)))),
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(None, Some(2.0))))
    ).toDF("a", "b")
    val got = rows.select(
      Similarity.cosine(col("a"), col("b")).as("fast"),
      cosineHof(col("a"), col("b")).as("ref")).collect()
    got.foreach { r =>
      assert(Option(r.get(0)) == Option(r.get(1)),
        s"cosine(null quirks) diverged: ${Option(r.get(0))} vs ${Option(r.get(1))}")
    }
  }

  test("cosine expression: a non-float/double array input fails analysis") {
    import spark.implicits._
    val rows = Seq((Array(1, 2), Array(1.0, 2.0))).toDF("a", "b")
    // the type check runs when the query is analyzed (select), not at
    // codegen: no plan over array<int> is ever built
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      rows.select(Similarity.cosine(col("a"), col("b")))
    }
    assert(e.getMessage.contains("DATATYPE_MISMATCH"), e.getMessage)
    assert(e.getMessage.contains("ARRAY<INT>"), e.getMessage)
  }

  // original (pre-r06) shingle column, kept as the reference
  private def shinglesHof(text: Column, k: Int): Column = {
    val toks = split(lower(trim(text)), "\\s+")
    array_distinct(transform(
      sequence(lit(0), greatest(size(toks) - k, lit(0))),
      i => concat_ws(" ", slice(toks, i + 1, lit(k)))))
  }

  test("shingles static == original HOF chain (incl. short/empty quirks)") {
    import spark.implicits._
    val docs = Seq[(Long, String)](
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "one two"), // fewer tokens than k -> one shortened shingle
      (3L, "single"),
      (4L, ""), // split("") == [""] -> one empty shingle
      (5L, null),
      (6L, "  padded   with   runs  of spaces  "),
      (7L, "dup dup dup dup dup"), // distinct collapses repeats
      (8L, "tab\tand\nnewline separated words here")
    ).toDF("id", "text")
    val got = docs.select(col("id"),
      DocDedup.shingles(col("text"), 3).as("fast"),
      shinglesHof(col("text"), 3).as("ref")).collect()
    got.foreach { r =>
      assert(Option(r.get(1)).map(_.toString) ==
        Option(r.get(2)).map(_.toString),
        s"shingles diverged at id=${r.getLong(0)}: ${r.get(1)} vs ${r.get(2)}")
    }
    // fused hash array == UDF(HOF shingles), fused minhash == UDF chain
    val cmp = docs.select(col("id"),
      DocDedup.shingleHashesOf(col("text"), 3).as("fh"),
      DocDedup.shingleHashes(shinglesHof(col("text"), 3)).as("rh"),
      DocDedup.minhashSignature(col("text"), 32, 3).as("fm"),
      DocDedup.minhashFromHashes(
        DocDedup.shingleHashes(shinglesHof(col("text"), 3)), 32).as("rm"))
      .collect()
    cmp.foreach { r =>
      assert(Option(r.get(1)).map(_.toString) ==
        Option(r.get(2)).map(_.toString),
        s"shingleHashes diverged at id=${r.getLong(0)}")
      assert(Option(r.get(3)).map(_.toString) ==
        Option(r.get(4)).map(_.toString),
        s"minhash diverged at id=${r.getLong(0)}")
    }
  }

  test("shingle statics == HOF chain on the sf0.001 documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
      DocDedup.shingles(col("text"), 3).as("fast"),
      shinglesHof(col("text"), 3).as("ref"),
      DocDedup.minhashSignature(col("text"), 32, 3).as("fm"),
      DocDedup.minhashFromHashes(
        DocDedup.shingleHashes(shinglesHof(col("text"), 3)), 32).as("rm"))
      .where(col("fast") =!= col("ref") || col("fm") =!= col("rm"))
      .count()
    assert(diff == 0)
  }

  test("lshBandHashes == original hash(slice(signature)) on real embeddings") {
    import spark.implicits._
    val planes = Similarity.hyperplanes(64, 64)
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select("embedding")
      .unionByName(Seq(Option.empty[Seq[Float]]).toDF("embedding"))
    val bandCols = (0 until 8).map(b =>
      hash(slice(Similarity.lshSignature(col("embedding"), planes),
        b * 8 + 1, 8)))
    val cmp = emb.select(col("embedding"),
      Similarity.lshBandHashes(col("embedding"), planes, 8).as("fast"),
      array(bandCols: _*).as("ref"))
    val diff = cmp.where(col("embedding").isNotNull && col("fast") =!= col("ref"))
      .count()
    assert(diff == 0)
    // null embedding: no band hashes, so posexplode drops the row; the pre-r06
    // chain hashed the null slice to the seed (42), banding all nulls together
    val nulls = cmp.where(col("embedding").isNull).collect()
    assert(nulls.length == 1 && nulls.head.isNullAt(1))
    assert(nulls.head.getSeq[Int](2) == Seq.fill(8)(42))
    assert(emb.where(col("embedding").isNull)
      .select(posexplode(Similarity.lshBandHashes(col("embedding"), planes, 8)))
      .count() == 0)
  }

  test("langId static == HOF on the sf0.001 documents corpus") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val diff = docs.select(
      TextAnalysis.langId(col("text")).as("fast"),
      langIdHof(col("text")).as("ref"))
      .where(col("fast") =!= col("ref") ||
        col("fast").isNull =!= col("ref").isNull)
      .count()
    assert(diff == 0)
  }
}
