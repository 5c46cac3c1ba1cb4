package graft

import org.apache.spark.sql.SparkSession
import graft.synth.TranscriptGen

/**
 * Extra measurement harness for optimization work (guide §1). NOT part of
 * the driver contract — [[Bench]] is frozen for measurement; this main
 * exists so per-query isolation runs and plan dumps don't touch it.
 *
 * Usage: runMain graft.BenchExtra <mode> [filterRegex] [outDir]
 *  - mode "time":  replicate Bench's query-timing protocol (same session
 *    config, same warm-up incl. warmKgPrefix, System.gc between queries,
 *    `time(df.count())`), optionally repeated SPARK_GRAFT_EXTRA_REPS
 *    times per query (min over the successful reps reported). Prints one
 *    JSON line; a query whose every rep failed prints as null, and
 *    "failed" maps each query with a failed rep to its failed-rep count.
 *  - mode "plans": write `.explain("formatted")` for every matching query
 *    to <outDir>/<query>_<SPARK_GRAFT_EXTRA_SUFFIX>.txt.
 *  - mode "noop":  time each matching query with the noop sink (computes
 *    every column — guide §1.4) instead of count(); output as "time".
 *  - mode "jobs":  run each matching query once with a job listener and
 *    print every Spark job's wall time and first stages to stderr.
 *
 * Env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS as in Bench.
 */
object BenchExtra {

  private def session(cpus: Int): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"graft-bench-extra-$cpus")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.files.maxPartitionBytes", (4 << 20).toString)
      .config("spark.sql.files.openCostInBytes", (1 << 20).toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "time"
    val filter = if (args.length > 1) args(1) else ".*"
    val outDir = if (args.length > 2) args(2) else "plans/r06"
    val suffix = sys.env.getOrElse("SPARK_GRAFT_EXTRA_SUFFIX", "before")
    val reps = sys.env.getOrElse("SPARK_GRAFT_EXTRA_REPS", "1").toInt
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    val spark = session(cpus)

    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(_._1.matches(filter))

    // same warm-up as Bench: table counts + codegen + shared KG prefixes
    try {
      Seq("lineitem", "orders", "customer", "events", "documents",
        "embeddings").foreach { t =>
        spark.read.parquet(s"$sfDir/$t.parquet").count()
      }
      Pipeline.extract(spark, TranscriptGen.generate(spark, 50L)).count()
      SparkEntry.warmKgPrefix(spark, sfDir)
    } catch { case _: Throwable => () }

    mode match {
      case "plans" =>
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
        selected.foreach { case (name, fn) =>
          val df = fn(spark, sfDir)
          val plan = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          java.nio.file.Files.write(
            java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"),
            plan.getBytes("UTF-8"))
          System.err.println(s"[plans] wrote $outDir/${name}_$suffix.txt")
        }
      case "jobs" =>
        // per-job attribution: run each selected query once with a
        // listener recording every Spark job's wall time + first stage
        // name, so multi-job queries (iterative CC, checkpoint chains)
        // show where their seconds go
        val events = new java.util.concurrent.ConcurrentHashMap[
          Int, (Long, String)]()
        val done = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, Long, String)]()
        val listener = new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            val desc = js.stageInfos.map(si =>
              s"${si.name.takeWhile(_ != '\n').take(60)}/" +
                s"${si.numTasks}t").mkString(" | ")
            events.put(js.jobId, (js.time, desc))
          }
          override def onJobEnd(
              je: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
            val s = events.remove(je.jobId)
            if (s != null) done.add((je.jobId, je.time - s._1, s._2))
          }
        }
        spark.sparkContext.addSparkListener(listener)
        selected.foreach { case (name, fn) =>
          done.clear()
          System.gc()
          val sec = try time(fn(spark, sfDir).count())
          catch { case _: Throwable => -1.0 }
          Thread.sleep(200) // listener events drain asynchronously
          import scala.jdk.CollectionConverters._
          val jobs = done.asScala.toSeq.sortBy(_._1)
          System.err.println(f"[jobs] $name total=$sec%.3f " +
            s"njobs=${jobs.size}")
          jobs.foreach { case (id, ms, desc) =>
            System.err.println(f"[jobs]   job=$id%-4d ${ms / 1000.0}%6.3fs  $desc")
          }
        }
        spark.sparkContext.removeSparkListener(listener)
      case m =>
        val useNoop = m == "noop"
        val results = selected.map { case (name, fn) =>
          spark.sparkContext.setJobDescription(name)
          // None = a failed rep: it counts as failed, never as a time
          val samples = (1 to reps).map { _ =>
            System.gc()
            try Some(time {
              if (useNoop)
                fn(spark, sfDir).write.format("noop").mode("overwrite").save()
              else fn(spark, sfDir).count()
            }) catch { case _: Throwable => None }
          }
          spark.sparkContext.setJobDescription(null)
          val best = samples.flatten.minOption
          System.err.println(s"[time] $name min=${best.fold("null")(t => f"$t%.3f")} " +
            s"all=${samples.map(_.fold("fail")(t => f"$t%.3f")).mkString(",")}")
          (name, best, samples.count(_.isEmpty))
        }
        val qs = results.map { case (k, v, _) =>
          s""""$k":${v.fold("null")(t => f"$t%.3f")}""" }.mkString("{", ",", "}")
        val failed = results.collect { case (k, _, n) if n > 0 => s""""$k":$n""" }
          .mkString("{", ",", "}")
        val total = results.flatMap(_._2).sum
        println(s"""{"metric":"bench-extra $m","queries":$qs,"failed":$failed,""" +
          s""""queries_total_sec":${f"$total%.3f"},"sf":"$sfDir","reps":$reps}""")
    }
    spark.stop()
  }
}
