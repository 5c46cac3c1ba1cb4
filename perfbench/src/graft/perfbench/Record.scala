package graft.perfbench

/** Mints the digests PerfBench checks every build against:
  *
  *   Record --workload <w> --seeds <from>-<to> --work <dir>
  *
  * For each seed, generates the workload's corpus and builds it once with
  * `runCheckpointed` at local[4]; prints one `<seed> <digest>` line per
  * seed. Re-mint (perfbench/record.py) only after a deliberate change to
  * the pipeline's output or to the generator. */
object Record {
  def main(a: Array[String]): Unit = {
    val m = a.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    val w = PerfBench.Workloads(m("--workload"))
    val Array(from, to) = m("--seeds").split("-").map(_.toLong)
    val work = m("--work")
    val spark = PerfBench.session(PerfBench.Cores, work)
    (from to to).foreach { seed =>
      val in = Corpus.write(spark, w.spec, seed, s"$work/in$seed")
      val (_, nodes, edges) =
        PerfBench.oneShot(spark, in.batchDirs, s"$work/ck$seed")
      println(s"$seed ${Digest.short(Digest.of(nodes, edges))}")
    }
    spark.stop()
  }
}
