package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import graft.Pipeline
import graft.Schemas._
import graft.operators._
import graft.sources.IcebergishTable

/** In-memory spans: name, start, end, parent and run id. Written out once,
  * when the run ends. A span's self time is its duration minus the time
  * its (sequential) children cover. */
final class Spans(val runId: String) {
  final case class Span(id: Int, name: String, parent: Int, startNs: Long,
      endNs: Long) {
    def s: Double = (endNs - startNs) / 1e9
  }
  private val done = mutable.ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var nextId = 0

  def span[A](name: String)(f: => A): A = {
    val id = nextId
    nextId += 1
    val parent = open.headOption.getOrElse(-1)
    open = id :: open
    val t0 = System.nanoTime()
    try f
    finally {
      done += Span(id, name, parent, t0, System.nanoTime())
      open = open.tail
    }
  }

  def all: Seq[Span] = done.sortBy(_.id).toSeq

  def selfS(sp: Span): Double =
    sp.s - done.iterator.filter(_.parent == sp.id).map(_.s).sum

  def json: String = {
    def q(s: String) = "\"" + s.replace("\"", "'") + "\""
    all.map { sp =>
      s"""{"id":${sp.id},"name":${q(sp.name)},"parent":${sp.parent},""" +
        s""""run":${q(runId)},"start_ns":${sp.startNs},"end_ns":${sp.endNs},""" +
        f""""self_s":${selfS(sp)}%.6f}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }
}

/** Spark work attributed to one layer: every job started while the driver
  * thread carried the layer's local property, and every task of those
  * jobs' stages. */
final class LayerWork {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  val taskMsByStage = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

  /** max / median task time of the layer's heaviest stage (by summed task
    * time); 1 when that stage ran a single task. */
  def taskSkew: Double = {
    if (taskMsByStage.isEmpty) return 1.0
    val heavy = taskMsByStage.values.maxBy(_.sum).sorted
    val med = heavy(heavy.size / 2).max(1L)
    heavy.last.toDouble / med
  }
}

/** The benchmark's Spark listener: per-layer job, task, shuffle, spill and
  * GC counts. Layers are named through a thread-local job property, so
  * jobs the benchmark itself runs (digests, counts) are not counted. */
final class LayerListener extends SparkListener {
  private val stageLayer = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val work = mutable.HashMap.empty[String, LayerWork]

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val layer = Option(e.properties).map(_.getProperty(LayerListener.Key))
      .orNull
    if (layer != null) synchronized {
      work.getOrElseUpdate(layer, new LayerWork).jobs += 1
      e.stageIds.foreach(stageLayer.put(_, layer))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val layer = stageLayer.get(e.stageId)
    if (layer != null && e.taskInfo != null) synchronized {
      val w = work.getOrElseUpdate(layer, new LayerWork)
      w.tasks += 1
      w.taskMsByStage.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) +=
        e.taskInfo.duration
      val m = e.taskMetrics
      if (m != null) {
        w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
      }
    }
  }

  /** Everything counted since the last call, per layer; then forget it. */
  def drain(spark: SparkSession): Map[String, LayerWork] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized {
      val out = work.toMap
      work.clear()
      stageLayer.clear()
      out
    }
  }
}

object LayerListener {
  val Key = "perfbench.layer"
}

/** One layer call of a traced build: timed from the benchmark's side. */
final case class LayerCall(layer: String, s: Double, planS: Double,
    commitS: Double, rows: Long, files: Int)

/** Replays the stage chains of `Pipeline.runCheckpointed` and
  * `Pipeline.runIncremental` through each stage's public function,
  * committing with `IcebergishTable.commit` exactly as `IcebergishTable.stage`
  * does, and times every call from outside:
  *  - `plan_s`: the public call that builds the stage's DataFrame, with any
  *    eager driver work it does (the part the manifest's wall_ms misses);
  *  - `commit_s`: `IcebergishTable.commit`;
  *  - `s`: the whole layer, including the read-back.
  * The digest of what it commits must equal the untraced build's, so the
  * replay cannot drift from the pipeline (see PerfBench's checks). */
final class TracedChain(spark: SparkSession, spans: Spans) {
  import spark.implicits._
  val calls = mutable.ArrayBuffer.empty[LayerCall]

  // Pipeline's private coref salting parameters (CorefWindow,
  // CorefChunkSize); a drift shows as a traced != untraced digest.
  private val CorefWindow = 5
  private val CorefChunkSize = 10000

  private def layer(name: String, root: String, stageName: String,
      keyCol: String, parent: String)(compute: => DataFrame): DataFrame = {
    val sc = spark.sparkContext
    spans.span(name) {
      sc.setLocalProperty(LayerListener.Key, name)
      try {
        val t0 = System.nanoTime()
        val df = spans.span(s"$name.plan")(compute)
        val t1 = System.nanoTime()
        val m = spans.span(s"$name.commit")(
          IcebergishTable.commit(spark, df, root, stageName, keyCol, parent))
        val t2 = System.nanoTime()
        val back = IcebergishTable.read(spark, root, stageName)
        val t3 = System.nanoTime()
        calls += LayerCall(name, (t3 - t0) / 1e9, (t1 - t0) / 1e9,
          (t2 - t1) / 1e9, m.rows, m.partitions.size)
        back
      } finally sc.setLocalProperty(LayerListener.Key, null)
    }
  }

  /** decode → mentions → link → triples+coref, as Pipeline.narrowStages. */
  private def narrow(turns: Dataset[Turn], root: String,
      nameOf: String => String, decodedParent: String): (DataFrame, DataFrame) = {
    val decodedDf = layer("decoded", root, nameOf("decoded"), "conv_id",
      decodedParent)(Pipeline.decodeTurns(spark, turns).toDF())
    val decoded = decodedDf.as[DecodedTurn]
    val mentionsDf = layer("mentions", root, nameOf("mentions"), "conv_id",
      nameOf("decoded"))(Pipeline.mentionsFromDecoded(spark, decoded, turns).toDF())
    val linkedDf = layer("linked", root, nameOf("linked"), "conv_id",
      nameOf("mentions")) {
      val dict = spark.sparkContext.broadcast(Linker.buildDict())
      Linker.link(spark, mentionsDf.as[Mention], dict).toDF()
    }
    val triplesDf = layer("triples", root, nameOf("triples"), "conv_id",
      nameOf("linked")) {
      Triples.triples(spark, decoded).toDF()
        .unionByName(Coref.triples(spark,
          SkewSalting.corefSalted(spark, decoded, window = CorefWindow,
            chunkSize = CorefChunkSize)).toDF())
    }
    (linkedDf, triplesDf)
  }

  /** The `runCheckpointed` chain. Returns (nodes, edges). */
  def oneShot(turns: Dataset[Turn], root: String): (DataFrame, DataFrame) = {
    val (linkedDf, triplesDf) = narrow(turns, root, identity, "turns")
    val canonDf = layer("canon_map", root, "canon_map", "tag", "triples")(
      Canonicalize.canonicalMap(spark, linkedDf))
    val nodesDf = layer("nodes", root, "nodes", "node_id", "canon_map")(
      Canonicalize.nodes(spark, canonDf).toDF())
    val edgesDf = layer("edges", root, "edges", "conv_id", "nodes")(
      Canonicalize.edges(spark, triplesDf.as[Triple], canonDf).toDF())
    (nodesDf, edgesDf)
  }

  /** The `runIncremental` chain for a fresh batch `b` (disjointness guard
    * off, as in the untraced build). Returns (nodes, edges). */
  def appendBatch(newTurns: Dataset[Turn], root: String, b: Int)
      : (DataFrame, DataFrame) = {
    layer("convs", root, s"convs_b$b", "conv_id",
      if (b == 0) "turns" else s"convs_b${b - 1}")(
      newTurns.toDF().select("conv_id").distinct())
    val (linkedDf, _) = narrow(newTurns, root, n => s"${n}_b$b",
      if (b == 0) "turns" else s"surface_forms_b${b - 1}")
    val formsDf = layer("surface_forms", root, s"surface_forms_b$b", "tag",
      s"triples_b$b") {
      val delta = Canonicalize.surfaceForms(linkedDf)
      if (b == 0) delta
      else Canonicalize.mergeForms(
        IcebergishTable.read(spark, root, s"surface_forms_b${b - 1}"), delta)
    }
    val canonDf = layer("canon_map", root, s"canon_map_b$b", "tag",
      s"surface_forms_b$b")(Canonicalize.canonicalMapFromForms(spark, formsDf))
    val nodesDf = layer("nodes", root, s"nodes_b$b", "node_id",
      s"canon_map_b$b")(Canonicalize.nodes(spark, canonDf).toDF())
    val edgesDf = layer("edges", root, s"edges_b$b", "conv_id",
      s"nodes_b$b") {
      val triplesAll = Pipeline.readTriplesUpTo(spark, root, b)
      Canonicalize.edges(spark, triplesAll.as[Triple], canonDf).toDF()
    }
    (nodesDf, edgesDf)
  }
}
