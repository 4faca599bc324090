package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session the benchmark measures: `graft.Bench`'s settings, key
  * for key, on `local[cores]`. [[verify]] fails the run when the built
  * session does not carry them, so the benchmark never times plans
  * that Bench would not run.
  */
object BenchSession {

  /** Bench's explicit settings (ShuffleDefaults' own keys are checked
    * separately, against the values ShuffleDefaults resolves to).
    */
  def settings(cores: Int): Seq[(String, String)] = Seq(
    "spark.master" -> s"local[$cores]",
    "spark.sql.shuffle.partitions" -> cores.toString,
    "spark.sql.session.timeZone" -> "UTC",
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS",
    "spark.sql.extensions" -> "graft.plans.GraftExtensions",
    "spark.sql.adaptive.enabled" -> "true",
    "spark.sql.files.maxPartitionBytes" -> "4m",
    "spark.sql.files.openCostInBytes" -> "65536",
    "spark.ui.enabled" -> "false")

  private def shuffleDefaults: Seq[(String, String)] = {
    val base = Seq(
      "spark.shuffle.sort.bypassMergeThreshold" -> graft.ShuffleDefaults.BypassMergeThreshold,
      "spark.sql.codegen.cache.maxEntries" -> graft.ShuffleDefaults.CodegenCacheMaxEntries)
    if (graft.ShuffleDefaults.OffHeapSize == "0") base
    else base ++ Seq("spark.memory.offHeap.enabled" -> "true",
      "spark.memory.offHeap.size" -> graft.ShuffleDefaults.OffHeapSize)
  }

  /** Every key the benchmark requires, with its required value. */
  def required(cores: Int): Seq[(String, String)] = settings(cores) ++ shuffleDefaults

  def build(cores: Int, localDir: String): SparkSession = {
    val b = graft.ShuffleDefaults(SparkSession.builder())
    settings(cores).foldLeft(b) { case (bb, (k, v)) => bb.config(k, v) }
      .config("spark.local.dir", localDir)
      .getOrCreate()
  }

  /** Resolved values of the required keys; throws if any differs or
    * the graft extensions are not installed in the session.
    */
  def verify(s: SparkSession, cores: Int): Seq[(String, String)] = {
    val resolved = required(cores).map { case (k, _) =>
      k -> s.conf.getOption(k).orElse(s.sparkContext.getConf.getOption(k)).getOrElse("<unset>")
    }
    val bad = required(cores).zip(resolved).collect {
      case ((k, want), (_, got)) if want != got => s"$k=$got (want $want)"
    }
    if (!s.catalog.functionExists("graft_dot_f"))
      throw new IllegalStateException("session lacks graft.plans.GraftExtensions")
    if (bad.nonEmpty)
      throw new IllegalStateException("session conf differs from Bench: " + bad.mkString(", "))
    resolved
  }

  /** Bench's warmup plans, pointed at the benchmark's data: one pass
    * over each major codegen path so the first measured op does not
    * absorb session initialization.
    */
  def warmup(s: SparkSession, dir: String): Unit = {
    import org.apache.spark.sql.functions._
    def warm(df: => DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    warm(graft.operators.TaskAnalytics.q1PricingSummary(s, dir))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("user_id").orderBy("ts")
    warm(graft.Tables.events(s, dir)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1))
    warm(graft.Tables.documents(s, dir)
      .select(aggregate(graft.functions.TextFunctions.tokens(col("text")),
        lit(0L), (a, x) => a + length(x)).as("n"))
      .agg(sum("n")))
    warm(graft.Tables.embeddings(s, dir)
      .select(graft.plans.ArrayOps.dotF(col("embedding"), col("embedding")).as("d"))
      .agg(sum("d")))
  }
}
