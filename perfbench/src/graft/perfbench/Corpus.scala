package graft.perfbench

import java.sql.Timestamp
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import graft.Schemas.Turn
import graft.synth.TranscriptGen

/** The benchmark's input generator. A pure function of (spec, seed): it
  * writes each batch of whole conversations as its own multi-file parquet
  * table (one writer commit per batch, as an Iceberg append would land),
  * and the pipeline only ever sees those tables.
  *
  * The base corpus is TranscriptGen's (Zipf conversation lengths, one hot
  * conversation per 1000). The optional long tail adds conversations that
  * quote unknown titles with typo variants: each quoted span becomes a
  * regex ALT_TITLE mention, so the tail grows the distinct surface-form
  * universe that canonicalization blocks, clusters and refines, while
  * adding little extraction work. */
object Corpus {

  final case class Spec(convs: Long, batches: Int, filesPerBatch: Int,
      tailTitles: Int = 0, tailVariants: Int = 0)

  /** What the generator wrote. `tailForms` is the number of distinct
    * quoted surfaces it injected (0 without a tail). */
  final case class Written(batchDirs: Seq[String], files: Int, turns: Long,
      tailForms: Int)

  private val AvgLen = 8
  private val TailTurnsPerConv = 8
  private val epochMs = 1767225600000L

  /** Batch `b`'s conversation range: contiguous, whole conversations —
    * append-only corpora land in conversation (time) order. */
  private def convRange(spec: Spec, b: Int): (Long, Long) =
    (spec.convs * b / spec.batches, spec.convs * (b + 1) / spec.batches)

  def write(spark: SparkSession, spec: Spec, seed: Long, dir: String): Written = {
    import spark.implicits._
    val tail = tailTurns(spec, seed)
    val dirs = (0 until spec.batches).map { b =>
      val (lo, hi) = convRange(spec, b)
      val base = spark.range(lo, hi, 1, spec.filesPerBatch)
        .flatMap(c => TranscriptGen.turnsOfConv(seed, c, AvgLen))
      // tail conversations arrive spread over the batches
      val tailHere = tail.filter(t => tailConvIdx(t) % spec.batches == b)
      val turns =
        if (tailHere.nonEmpty) base.union(spark.createDataset(tailHere))
        else base
      val out = s"$dir/turns_b$b"
      turns.repartition(spec.filesPerBatch, col("conv_id"))
        .write.mode("overwrite").parquet(out)
      out
    }
    val files = dirs.map(d => new java.io.File(d).listFiles()
      .count(f => f.getName.startsWith("part-") && f.length() > 0)).sum
    val turns = dirs.map(d => spark.read.parquet(d).count()).sum
    Written(dirs, files, turns, tail.map(_.text).distinct.size)
  }

  private def tailConvIdx(t: Turn): Int = t.conv_id.stripPrefix("tail").toInt

  def read(spark: SparkSession, dirs: Seq[String]): Dataset[Turn] = {
    import spark.implicits._
    spark.read.parquet(dirs: _*).as[Turn]
  }

  private final class Rng(seed: Long) {
    private var s = seed * 0x9E3779B97F4A7C15L + 0x632BE59BD9B4E019L
    def nextInt(n: Int): Int = {
      s ^= s >>> 33; s *= 0xFF51AFD7ED558CCDL
      s ^= s >>> 33; s *= 0xC4CEB9FE1A85EC53L
      s ^= s >>> 33
      ((s >>> 1) % n).toInt
    }
  }

  private val syllables = Array("ka", "ri", "mo", "te", "su", "na", "lo",
    "vi", "sha", "ne", "po", "yu", "mi", "da", "ke", "ro", "fa", "zu", "hi",
    "ta", "gen", "bu", "cho", "wa")
  private val templates = Array(
    (s: String) => s"""have you heard "$s" yet""",
    (s: String) => s"""they played "$s" twice tonight""",
    (s: String) => s"""my friend keeps humming "$s" all day""",
    (s: String) => s"""is "$s" on the new setlist""")

  /** A pseudo-title of two 2-3 syllable words, never a gazetteer entry. */
  private def title(r: Rng): String = {
    def word = {
      val w = (0 until 2 + r.nextInt(2)).map(_ => syllables(
        r.nextInt(syllables.length))).mkString
      w.head.toUpper + w.tail
    }
    s"$word $word"
  }

  /** One typo: substitute, delete or transpose a letter of a word. */
  private def typo(t: String, r: Rng): String = {
    val letters = t.indices.filter(i => t(i) != ' ')
    val i = letters(r.nextInt(letters.size))
    r.nextInt(3) match {
      case 0 => t.updated(i, ('a' + r.nextInt(26)).toChar)
      case 1 => t.substring(0, i) + t.substring(i + 1)
      case _ =>
        if (i + 1 < t.length && t(i + 1) != ' ')
          t.substring(0, i) + t(i + 1) + t(i) + t.substring(i + 2)
        else t.updated(i, ('a' + r.nextInt(26)).toChar)
    }
  }

  /** The long tail: `tailTitles` unknown titles, each quoted twice as
    * written (so mention counts differ) and once per typo variant. The
    * quotes run title-major per round — every original, then every first
    * variant, ... — so a title and its variants arrive in different
    * batches. Pure in (spec, seed). */
  def tailTurns(spec: Spec, seed: Long): Seq[Turn] = {
    if (spec.tailTitles <= 0) return Seq.empty
    val r = new Rng(seed)
    val titles = (0 until spec.tailTitles).map(_ => title(r))
    val quotes = titles ++ titles ++
      (0 until spec.tailVariants).flatMap(_ => titles.map(typo(_, r)))
    quotes.grouped(TailTurnsPerConv).zipWithIndex.flatMap {
      case (qs, k) =>
        qs.zipWithIndex.map { case (q, i) =>
          Turn(f"tail$k%07d", i, if (i % 2 == 0) "user" else "assistant",
            templates(r.nextInt(templates.length))(q), null,
            new Timestamp(epochMs + k * 3600000L + i * 30000L))
        }
    }.toSeq
  }
}
