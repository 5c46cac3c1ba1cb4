package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Pipeline
import graft.sources.IcebergishTable

/** The KG build benchmark: one measurement of one workload in one JVM.
  *
  *   PerfBench --workload <w> --seed <n> --seconds <s> --trace <0|1>
  *             --work <dir> --spans <dir> --digests <file>
  *
  * Untraced (`--trace 0`) it sets up, builds the workload's KG through the
  * pipeline's public entry points at local[4] and then at local[1] until
  * `--seconds` have passed, checks every build and prints the end-to-end
  * metrics. Traced (`--trace 1`) it builds once untraced, then replays the
  * stage chain layer by layer (TracedChain) under the benchmark's listener
  * until `--seconds` have passed, times the extraction kernel's phases on
  * one thread, and prints the per-layer metrics. The last line of standard
  * output is the result: {"correct", "attempted", "failed", "metrics"}.
  * perfbench/README.md describes workloads, metrics and checks. */
object PerfBench {

  /** A workload is a corpus; every workload runs the same protocol on it.
    * The corpus lands as `batches` tables of whole conversations, so the
    * one-shot build reads all of them and the append build adds them one
    * by one; both must commit the same graph. */
  final case class Workload(name: String, spec: Corpus.Spec)

  val Workloads: Map[String, Workload] = Seq(
    // TranscriptGen only: extraction dominates, canonicalization is tiny
    Workload("kg", Corpus.Spec(convs = 1200, batches = 2, filesPerBatch = 4)),
    // a smaller TranscriptGen base plus a long tail of quoted unknown
    // titles with typo variants: canonicalization dominates
    Workload("alias_longtail", Corpus.Spec(convs = 400, batches = 2,
      filesPerBatch = 4, tailTitles = 800, tailVariants = 2))
  ).map(w => w.name -> w).toMap

  /** The warm-up corpus the first setup builds before measuring. */
  private val WarmSpec = Corpus.Spec(convs = 40, batches = 1, filesPerBatch = 2)
  private val SetupReps = 3
  private val KernelTurns = 20000
  private val KernelPasses = 5
  val Cores = math.min(4, Runtime.getRuntime.availableProcessors)

  final case class Args(workload: Workload, seed: Long, seconds: Int,
      trace: Boolean, work: String, spans: String, digests: String)

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(Workloads.getOrElse(get("--workload"),
        throw new IllegalArgumentException("unknown workload")),
      get("--seed").toLong, get("--seconds").toInt, get("--trace") == "1",
      get("--work"), get("--spans"), get("--digests"))
  }

  private def log(s: String): Unit = System.err.println(s"perfbench: $s")
  private def now: Double = System.nanoTime() / 1e9
  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder().master(s"local[$cores]")
      .appName(s"perfbench-local$cores")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One untraced one-shot build: `runCheckpointed` over every batch
    * table. Returns its wall time and the committed (nodes, edges). */
  def oneShot(spark: SparkSession, dirs: Seq[String], root: String)
      : (Double, DataFrame, DataFrame) = {
    val t0 = now
    val (_, nodes, edges) =
      Pipeline.runCheckpointed(spark, Corpus.read(spark, dirs), root)
    (now - t0, nodes, edges)
  }

  /** One untraced append build: one `runIncremental` call per batch
    * table, in order. Returns each call's wall time and the final
    * committed (nodes, edges). */
  def append(spark: SparkSession, dirs: Seq[String], root: String)
      : (Seq[Double], DataFrame, DataFrame) = {
    var last: (DataFrame, DataFrame) = null
    val walls = dirs.indices.map { b =>
      val t0 = now
      val (_, nodes, edges) = Pipeline.runIncremental(spark,
        Corpus.read(spark, Seq(dirs(b))), root, b)
      last = (nodes, edges)
      now - t0
    }
    (walls, last._1, last._2)
  }

  private val rowsRe = "\"rows\":(\\d+)".r
  private def manifestRows(root: String, stage: String): Long = {
    val s = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(IcebergishTable.manifestPath(root, stage))), "UTF-8")
    rowsRe.findFirstMatchIn(s).get.group(1).toLong
  }

  /** Every triple becomes exactly one edge (each endpoint map is keyed
    * uniquely), so the committed edge count must equal the committed
    * triple count. `batches` = 0 for a one-shot root. */
  private def edgesCoverTriples(root: String, batches: Int): Boolean =
    if (batches == 0) manifestRows(root, "triples") == manifestRows(root, "edges")
    else (0 until batches).map(b => manifestRows(root, s"triples_b$b")).sum ==
      manifestRows(root, s"edges_b${batches - 1}")

  private def dirBytes(root: String): Long = {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(root))
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
        .map(java.nio.file.Files.size(_)).sum
    } finally walk.close()
  }

  private def rmrf(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try {
        import scala.jdk.CollectionConverters._
        walk.iterator().asScala.toSeq.reverse
          .foreach(java.nio.file.Files.deleteIfExists(_))
      } finally walk.close()
    }
  }

  /** The digest recorded for (workload, seed) in the digests file, a JSON
    * object {"<workload>": {"<seed>": "<digest>", ...}, ...}. */
  private def recorded(file: String, w: String, seed: Long): Option[String] = {
    val f = new java.io.File(file)
    if (!f.exists()) return None
    val s = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val block = ("\"" + java.util.regex.Pattern.quote(w) +
      "\"\\s*:\\s*\\{([^}]*)\\}").r.findFirstMatchIn(s).map(_.group(1))
    block.flatMap(b => ("\"" + seed + "\"\\s*:\\s*\"([^\"]+)\"").r
      .findFirstMatchIn(b).map(_.group(1)))
  }

  /** Attempts, failures and the digest every build must reproduce. */
  final class Tally(args: Args) {
    var attempted = 0
    var failed = 0
    val problems = mutable.ArrayBuffer.empty[String]
    /** The digest every build must reproduce: the one recorded for this
      * workload and seed, else the run's first build's. So one-shot and
      * append, local[4] and local[1], traced and untraced builds of one
      * corpus must all commit the same graph. */
    var reference: Option[String] =
      recorded(args.digests, args.workload.name, args.seed)

    /** Digest one committed build and check it; false (and counted as
      * failed) if any check fails. */
    def check(label: String, root: String, batches: Int,
        nodes: DataFrame, edges: DataFrame): Boolean = {
      attempted += 1
      val d = Digest.short(Digest.of(nodes, edges))
      val errs = Seq(
        reference.filter(_ != d).map(r => s"digest $d != expected $r"),
        if (edgesCoverTriples(root, batches)) None
        else Some("edge count != triple count")).flatten
      if (reference.isEmpty) reference = Some(d)
      errs.foreach(e => problems += s"$label: $e")
      if (errs.nonEmpty) failed += 1
      log(s"$label digest=$d ${if (errs.isEmpty) "ok" else errs.mkString("; ")}")
      errs.isEmpty
    }

    def attemptFailed(label: String, e: Throwable): Unit = {
      attempted += 1
      failed += 1
      problems += s"$label: $e"
      log(s"$label FAILED: $e")
    }

    /** Run one build, turning an exception into a counted failure. */
    def attempt[A](label: String)(f: => Option[A]): Option[A] =
      try f catch { case e: Exception => attemptFailed(label, e); None }
  }

  /** Set up `reps` times: start the local[4] session, then generate and
    * write the input tables. The first setup also warms the JVM with a
    * one-batch append of the small warm-up corpus, which runs every layer —
    * JIT and codegen state is per process, so repeating the warm-up would
    * measure nothing new.
    * setup_s = median(session + generate + write) + warm-up. */
  private def setup(args: Args, reps: Int): (SparkSession, Corpus.Written, Double) = {
    val w = args.workload
    var spark: SparkSession = null
    var written: Corpus.Written = null
    var warmS = 0.0
    val times = (0 until reps).map { i =>
      val t0 = now
      spark = session(Cores, args.work)
      rmrf(s"${args.work}/in")
      written = Corpus.write(spark, w.spec, args.seed, s"${args.work}/in")
      val t = now - t0
      if (i == 0) {
        val t1 = now
        val warm = Corpus.write(spark, WarmSpec, args.seed + 7919L,
          s"${args.work}/warm")
        append(spark, warm.batchDirs, s"${args.work}/warm_ck")
        rmrf(s"${args.work}/warm"); rmrf(s"${args.work}/warm_ck")
        warmS = now - t1
      }
      t
    }
    log(f"setup ${w.name}: files=${written.files} turns=${written.turns} " +
      f"tail_forms=${written.tailForms} session+write=" +
      times.map(t => f"$t%.3f").mkString(",") + f" warm=$warmS%.3f")
    (spark, written, median(times) + warmS)
  }

  /** Print the result line. A metric without a passing sample is left
    * out, and the run is then not correct. */
  private def emit(tally: Tally, metrics: Seq[(String, Double, String)]): Unit = {
    val ok = metrics.filter(m => !m._2.isNaN && !m._2.isInfinite)
    val ms = ok.map { case (n, v, u) =>
        val num = if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
          else v.toString
        s""""$n":{"value":$num,"unit":"$u"}"""
      }.mkString("{", ",", "}")
    val correct = tally.failed == 0 && tally.attempted > 0 &&
      ok.size == metrics.size
    tally.problems.foreach(p => log(s"problem: $p"))
    println(s"""{"correct":$correct,"attempted":${tally.attempted},""" +
      s""""failed":${tally.failed},"metrics":$ms}""")
  }

  /** Driver heap in use after full GCs, with the session still up: what
    * the run keeps alive (cached plans, broadcasts, materialized blocks).
    * Each reading follows a GC, a pause for Spark's cleaner to drop what
    * that GC released, and a second GC; the least of three readings, so a
    * background allocation between a GC and its reading does not count. */
  private def retainedHeapMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      System.gc()
      mem.getHeapMemoryUsage.getUsed / 1e6
    }.min
  }

  private def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(",")

  /** --trace 0: the end-to-end metrics. One-shot builds at local[4] until
    * 25% of the time is used, one append build at local[4], then one-shot
    * builds at local[1] until the time is up (at least one of each). */
  private def untraced(args: Args): Unit = {
    val w = args.workload
    val tally = new Tally(args)
    var (spark, input, setupS) = setup(args, SetupReps)
    val dirs = input.batchDirs
    val t0 = now
    var rep = 0
    def root() = { rep += 1; s"${args.work}/ck$rep" }

    val oneShot4 = mutable.ArrayBuffer.empty[Double]
    while (oneShot4.isEmpty && rep < 3 || now < t0 + 0.25 * args.seconds) {
      val label = s"local[$Cores] one-shot $rep"
      tally.attempt(label) {
        val r = root()
        val (wall, nodes, edges) = oneShot(spark, dirs, r)
        val ok = tally.check(label, r, 0, nodes, edges)
        rmrf(r)
        Some(wall).filter(_ => ok)
      }.foreach(oneShot4 += _)
    }
    var appendWalls = Seq.empty[Double]
    var ckptBytes = Double.NaN
    tally.attempt(s"local[$Cores] append") {
      val r = root()
      val (walls, nodes, edges) = append(spark, dirs, r)
      val ok = tally.check(s"local[$Cores] append", r, dirs.size, nodes, edges)
      if (ok) ckptBytes = dirBytes(r).toDouble
      rmrf(r)
      Some(walls).filter(_ => ok)
    }.foreach(appendWalls = _)

    spark = session(1, args.work)
    val oneShot1 = mutable.ArrayBuffer.empty[Double]
    while (oneShot1.isEmpty && rep < 8 || now < t0 + args.seconds) {
      val label = s"local[1] one-shot $rep"
      tally.attempt(label) {
        val r = root()
        val (wall, nodes, edges) = oneShot(spark, dirs, r)
        val ok = tally.check(label, r, 0, nodes, edges)
        rmrf(r)
        Some(wall).filter(_ => ok)
      }.foreach(oneShot1 += _)
    }
    val heapMb = retainedHeapMb()
    spark.stop()
    log(s"${w.name}: one-shot local[$Cores]=${fmt(oneShot4)} append " +
      s"batches=${fmt(appendWalls)} one-shot local[1]=${fmt(oneShot1)}")
    def med(xs: Seq[Double]) = if (xs.isEmpty) Double.NaN else median(xs)
    val build4 = med(oneShot4.toSeq)
    emit(tally, Seq(
      ("setup_s", setupS, "s"),
      ("build_s", build4, "s"),
      ("scaling_eff_1_4", med(oneShot1.toSeq) / (4 * build4), "ratio"),
      ("append_s", med(appendWalls), "s"),
      ("append_growth",
        if (appendWalls.isEmpty) Double.NaN else appendWalls.last / appendWalls.head,
        "ratio"),
      ("append_total_s", if (appendWalls.isEmpty) Double.NaN else appendWalls.sum, "s"),
      ("ckpt_bytes", ckptBytes, "bytes"),
      ("retained_heap_mb", heapMb, "MB")))
  }

  val Layers = Seq("decoded", "mentions", "linked", "triples", "canon_map",
    "nodes", "edges", "surface_forms", "convs")
  val OneShotLayers = Layers.take(7)

  /** A traced build: the benchmark-side layer calls, the listener's
    * per-layer work, the wall of each entry-point call and the spans. */
  final case class Traced(calls: Seq[LayerCall], work: Map[String, LayerWork],
      callWalls: Seq[Double], spans: Spans, root: String) {
    def wall: Double = callWalls.sum
    def layerS(l: String): Double = calls.filter(_.layer == l).map(_.s).sum
  }

  /** --trace 1: the per-layer metrics. After one untraced one-shot build
    * (the reference digest), replay the one-shot chain and the append
    * chain layer by layer under the listener until the time is up (at
    * least once each), then time the kernel's phases on one thread.
    * `<layer>.*` come from the traced append build, which runs every
    * layer; `oneshot.<layer>.s` from the traced one-shot build. */
  private def traced(args: Args): Unit = {
    val w = args.workload
    val tally = new Tally(args)
    val (spark, input, _) = setup(args, 1)
    import spark.implicits._
    val dirs = input.batchDirs
    val t0 = now
    val untracedS = tally.attempt("untraced one-shot") {
      val r = s"${args.work}/ck_untraced"
      val (wall, nodes, edges) = oneShot(spark, dirs, r)
      val ok = tally.check("untraced one-shot", r, 0, nodes, edges)
      rmrf(r)
      Some(wall).filter(_ => ok)
    }.getOrElse(Double.NaN)

    val listener = new LayerListener
    spark.sparkContext.addSparkListener(listener)
    var rep = 0
    def tracedBuild(kind: String)(f: (TracedChain, String, Spans) =>
        (Seq[Double], DataFrame, DataFrame)): Option[Traced] = {
      val label = s"traced $kind $rep"
      val r = s"${args.work}/ck_traced$rep"
      val spans = new Spans(s"${w.name}-seed${args.seed}-$kind$rep")
      rep += 1
      tally.attempt(label) {
        listener.drain(spark)
        val chain = new TracedChain(spark, spans)
        val (walls, nodes, edges) = spans.span(kind)(f(chain, r, spans))
        val work = listener.drain(spark)
        val ok = tally.check(label, r, if (kind == "append") dirs.size else 0,
          nodes, edges)
        Some(Traced(chain.calls.toSeq, work, walls, spans, r)).filter(_ => ok)
      }
    }
    val oneShots = mutable.ArrayBuffer.empty[Traced]
    val appends = mutable.ArrayBuffer.empty[Traced]
    while ((oneShots.isEmpty || appends.isEmpty) && rep < 6 ||
        now < t0 + args.seconds) {
      oneShots.lastOption.foreach(t => rmrf(t.root))
      tracedBuild("oneshot") { (chain, r, spans) =>
        val tb = now
        val (nodes, edges) = chain.oneShot(Corpus.read(spark, dirs), r)
        (Seq(now - tb), nodes, edges)
      }.foreach(oneShots += _)
      if (appends.nonEmpty) rmrf(appends.last.root)
      tracedBuild("append") { (chain, r, spans) =>
        var last: (DataFrame, DataFrame) = null
        val walls = dirs.indices.map { b =>
          val tb = now
          last = spans.span(s"runIncremental_b$b")(
            chain.appendBatch(Corpus.read(spark, Seq(dirs(b))), r, b))
          now - tb
        }
        (walls, last._1, last._2)
      }.foreach(appends += _)
    }
    spark.sparkContext.removeSparkListener(listener)

    val metrics = mutable.ArrayBuffer.empty[(String, Double, String)]
    def add(n: String, vs: Seq[Double], unit: String): Unit =
      metrics += ((n, if (vs.isEmpty) Double.NaN else median(vs), unit))
    Layers.foreach { l =>
      def per(f: (Seq[LayerCall], LayerWork) => Double) = appends.map { t =>
        f(t.calls.filter(_.layer == l), t.work.getOrElse(l, new LayerWork))
      }.toSeq
      add(s"$l.s", per((cs, _) => cs.map(_.s).sum), "s")
      add(s"$l.plan_s", per((cs, _) => cs.map(_.planS).sum), "s")
      add(s"$l.commit_s", per((cs, _) => cs.map(_.commitS).sum), "s")
      add(s"$l.rows", per((cs, _) => cs.map(_.rows).sum.toDouble), "count")
      add(s"$l.jobs", per((_, wk) => wk.jobs.toDouble), "count")
      add(s"$l.tasks", per((_, wk) => wk.tasks.toDouble), "count")
      add(s"$l.task_skew", per((_, wk) => wk.taskSkew), "ratio")
      add(s"$l.shuffle_write_bytes", per((_, wk) => wk.shuffleWriteBytes.toDouble), "bytes")
      add(s"$l.spill_bytes", per((_, wk) => wk.spillBytes.toDouble), "bytes")
      add(s"$l.gc_s", per((_, wk) => wk.gcMs / 1000.0), "s")
      add(s"$l.files", per((cs, _) => cs.map(_.files).sum.toDouble), "count")
    }
    OneShotLayers.foreach(l => add(s"oneshot.$l.s", oneShots.map(_.layerS(l)).toSeq, "s"))
    add("edges.first_call_s", appends.map(_.calls.filter(_.layer == "edges").head.s).toSeq, "s")
    add("edges.last_call_s", appends.map(_.calls.filter(_.layer == "edges").last.s).toSeq, "s")
    add("edges.input_snapshots", Seq(dirs.size.toDouble), "count")
    add("canon_map.forms", appends.map(_.calls.filter(_.layer == "canon_map")
      .last.rows.toDouble).toSeq, "count")
    add("trace.oneshot_build_s", oneShots.map(_.wall).toSeq, "s")
    add("trace.oneshot_overhead_s", oneShots.map(_.wall - untracedS).toSeq, "s")
    add("trace.oneshot_uncovered_s", oneShots.map(t =>
      t.wall - OneShotLayers.map(t.layerS).sum).toSeq, "s")
    add("trace.append_total_s", appends.map(_.wall).toSeq, "s")

    // counters read from the committed snapshots of the last traced append
    // build, outside every span and with no layer property set
    appends.lastOption.foreach { last =>
      val model = spark.sparkContext.broadcast(graft.operators.Detector.buildModel())
      val unionIn = dirs.indices.map(b => graft.operators.Decode.mentions(spark,
          IcebergishTable.read(spark, last.root, s"decoded_b$b")
            .as[graft.Schemas.DecodedTurn]).count()).sum +
        Corpus.read(spark, dirs).mapPartitions { it =>
          val m = model.value
          it.flatMap(t => graft.operators.Detector.regexMentions(m, t))
        }.count()
      val mentionsOut = last.calls.filter(_.layer == "mentions").map(_.rows).sum
      add("mentions.dedup_ratio", Seq(mentionsOut.toDouble / unionIn), "ratio")
      add("canon_map.max_aliases", Seq(IcebergishTable.read(spark, last.root,
        s"nodes_b${dirs.size - 1}").agg(max(size(col("aliases")))).head()
        .getInt(0).toDouble), "count")
      // the largest blocking component (canopy) of the whole form universe
      val linked = dirs.indices.map(b =>
        IcebergishTable.read(spark, last.root, s"linked_b$b")).reduce(_ unionByName _)
      val largest = graft.operators.Canonicalize.hotCanopies(spark, linked,
        maxCanopySize = 0).agg(max(col("count"))).head().getLong(0)
      add("canon_map.largest_component", Seq(largest.toDouble), "count")
      log(s"corpus: ${input.files} files, ${input.turns} turns, " +
        s"${input.tailForms} tail forms; canonicalization saw " +
        s"${metrics.find(_._1 == "canon_map.forms").get._2.toLong} forms, " +
        s"largest component $largest")
    }

    // the fused kernel's phases, one thread, over a sample of the corpus
    val sample = Corpus.read(spark, dirs).orderBy("conv_id", "turn_idx")
      .limit(KernelTurns).collect()
    val k = Kernel.time(sample, KernelPasses)
    val model = graft.operators.Detector.buildModel()
    val fused = sample.map(t => Pipeline.extractTurn(model, t).size.toLong).sum
    tally.attempted += 1
    if (fused != k.triples) {
      tally.failed += 1
      tally.problems += s"kernel phases emitted ${k.triples} triples, extractTurn $fused"
    }
    metrics ++= Seq(("kernel.tokenize_ns", k.tokenize, "ns"),
      ("kernel.tag_ns", k.tag, "ns"), ("kernel.decode_ns", k.decode, "ns"),
      ("kernel.emit_ns", k.emit, "ns"))
    spark.stop()
    writeSpans(args, untracedS, oneShots.lastOption, appends.lastOption)
    emit(tally, metrics.toSeq)
  }

  /** Write the last traced builds' spans, and log each layer's time, share
    * and self time plus the part of the build no layer span covers. */
  private def writeSpans(args: Args, untracedS: Double, oneShot: Option[Traced],
      append: Option[Traced]): Unit = {
    val file = s"${args.spans}/${args.workload.name}-seed${args.seed}.json"
    val body = Seq(oneShot, append).flatten.map(_.spans.json).mkString("[", ",", "]")
    java.nio.file.Files.write(java.nio.file.Paths.get(file), body.getBytes("UTF-8"))
    Seq("one-shot" -> oneShot, "append" -> append).foreach {
      case (kind, Some(t)) =>
        Layers.filter(t.layerS(_) > 0).foreach { l =>
          val self = t.spans.all.filter(_.name == l).map(t.spans.selfS).sum
          log(f"$kind layer $l%-14s s=${t.layerS(l)}%7.3f " +
            f"share=${100 * t.layerS(l) / t.wall}%5.1f%% self=$self%.3f")
        }
        log(f"$kind traced build ${t.wall}%.3f s, uncovered " +
          f"${t.wall - Layers.map(t.layerS).sum}%.3f s")
      case _ =>
    }
    log(f"untraced one-shot $untracedS%.3f s; spans in $file")
  }

  def main(a: Array[String]): Unit = {
    val args = parse(a)
    if (args.trace) traced(args) else untraced(args)
  }
}
