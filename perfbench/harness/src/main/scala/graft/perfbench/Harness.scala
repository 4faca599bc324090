package graft.perfbench

/** Benchmark entry point. `perfbench/run.py` generates the inputs,
  * launches this main, and checks what it writes.
  *
  *   --workload NAME   report_suite | corpus_curation | index_lifecycle
  *   --data DIR        generated tables (and lifecycle plan)
  *   --work DIR        scratch for artifacts, the CSV cache and op outputs
  *   --warm-passes N   warm passes after the cold one
  *   --trace 0|1       record spans (separate run from the timed ones)
  *   --seed N --cores N --out FILE
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = a.getOrElse("cores", "4").toInt
    val dir = a("data")
    val work = a("work")
    val traced = a.getOrElse("trace", "0") == "1"

    val t0 = System.nanoTime()
    val spark = BenchSession.build(cores, s"$work/spark-local")
    val startS = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.setLogLevel("ERROR")
    val conf = BenchSession.verify(spark, cores)
    val t1 = System.nanoTime()
    BenchSession.warmup(spark, dir)
    val warmupS = (System.nanoTime() - t1) / 1e9
    val readyUs = java.time.Instant.now()
    val setup = Map(
      "ready_epoch_s" -> (readyUs.getEpochSecond + readyUs.getNano / 1e9),
      "session_start_s" -> startS, "warmup_s" -> warmupS)
    val workload = Workloads.all(a("workload"))
    IndexLifecycle.root = s"$work/artifacts"
    ReportSuite.csvCacheDir = s"$work/csv_cache"
    CorpusCuration.csvCacheDir = s"$work/csv_cache"
    val tracer = new Tracer(traced)
    tracer.register(spark)
    val runner = new Runner(spark, tracer, dir)
    val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]

    val cpu0 = os.getProcessCpuTime
    val start = System.nanoTime()
    val passes = workload.timed(runner, a.getOrElse("seed", "0").toLong, a("warm-passes").toInt)
    val end = System.nanoTime()
    val cpu1 = os.getProcessCpuTime

    val facts = workload.outputs(runner, s"$work/out")
    val outputsS = (System.nanoTime() - end) / 1e9
    Workloads.releaseCaches(spark, dir)
    val rssKb = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toLong).getOrElse(0L)
    def rel(t: Long) = (t - start) / 1e9
    val json = Map(
      "setup" -> setup, "conf" -> conf.toMap, "passes" -> passes,
      "makespan_s" -> (end - start - runner.bookkeepingNs) / 1e9,
      "bookkeeping_s" -> runner.bookkeepingNs / 1e9, "outputs_s" -> outputsS,
      "cpu_s" -> (cpu1 - cpu0) / 1e9,
      "rss_peak_mb" -> rssKb / 1024.0,
      "bytes_written" -> runner.bytesWritten, "files_written" -> runner.filesWritten,
      "applied_bytes" -> runner.appliedBytes,
      "ops" -> runner.ops.map(o => Map("id" -> o.id, "name" -> o.name, "kind" -> o.kind,
        "pass" -> o.pass, "t0" -> rel(o.t0), "t1" -> rel(o.t1), "ok" -> o.ok, "err" -> o.err)),
      "spans" -> tracer.all.map(x => Map("id" -> x.id, "parent" -> x.parent, "op" -> x.op,
        "name" -> x.name, "layer" -> x.layer, "t0" -> rel(x.start), "t1" -> rel(x.end),
        "attrs" -> x.attrs)),
      "facts" -> facts)
    spark.stop()
    Json.write(a("out"), json)
  }
}
