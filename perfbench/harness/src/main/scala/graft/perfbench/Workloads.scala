package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.{SparkEntry, Tables}
import graft.sources.Export
import scala.collection.mutable

/** A workload: a timed region driven by one [[Runner]], then (untimed)
  * everything the output checks need, written under `out`.
  */
trait Workload {
  /** Runs the cold pass, then `warmPasses` warm passes; returns the pass count. */
  def timed(r: Runner, seed: Long, warmPasses: Int): Int
  /** Writes op outputs and accounting for the checks; returns facts for the result file. */
  def outputs(r: Runner, out: String): Map[String, Any]

  protected def loop(warmPasses: Int)(pass: Int => Unit): Int = {
    (0 to warmPasses).foreach(pass)
    warmPasses + 1
  }

  protected def permuted(ops: Seq[String], seed: Long, pass: Int): Seq[String] =
    new scala.util.Random(seed * 1000003L + pass).shuffle(ops)

  protected def loadTables(r: Runner): Unit =
    r.op("tables_load", "load", 0)(r.tr.span("load", "tables") {
      Seq[(SparkSession, String) => DataFrame](Tables.region, Tables.nation, Tables.customer,
        Tables.supplier, Tables.part, Tables.orders, Tables.lineitem, Tables.events,
        Tables.documents, Tables.embeddings).foreach(_(r.s, r.dir).schema)
    })
}

/** Catalog reads; a workload with a `csvCache` also ends every pass with
  * one `cache_update` write: that catalog read's frame written as the
  * CSV cache.
  */
abstract class CatalogWorkload extends Workload {
  def readOps: Seq[String]
  /** The catalog read whose frame each pass writes as the CSV cache. */
  def csvCache: Option[String]
  /** Bench's `shared_*` builds this workload's reads consume, run in the cold pass. */
  def builds: Seq[String]
  var csvCacheDir = ""
  var cacheMemMb = 0.0
  var cacheDiskMb = 0.0
  private var updates = 0

  def timed(r: Runner, seed: Long, warmPasses: Int): Int =
    loop(warmPasses) { pass =>
      if (pass == 0) {
        loadTables(r)
        val fns = graft.Bench.SharedBuilds.toMap
        builds.foreach { b => r.op(b, "build", 0)(r.tr.span("build", "cache")(fns(b)(r.s, r.dir))) }
        r.bookkeeping {
          val info = r.s.sparkContext.getRDDStorageInfo
          cacheMemMb = info.map(_.memSize).sum / 1048576.0
          cacheDiskMb = info.map(_.diskSize).sum / 1048576.0
        }
      }
      permuted(readOps, seed, pass).foreach { name =>
        r.read(name, pass)(SparkEntry.queries(name)(r.s, r.dir))
      }
      csvCache.foreach { q =>
        if (r.write("cache_update", pass, Seq(csvCacheDir), 0L) {
          Export.writeCsv(r.tr.span("construct", "operators")(SparkEntry.queries(q)(r.s, r.dir)), csvCacheDir)
        }) updates += 1
      }
    }

  def outputs(r: Runner, out: String): Map[String, Any] = {
    val names = readOps.distinct
    Workloads.inParallel(names) { n =>
      SparkEntry.queries(n)(r.s, r.dir).coalesce(1).write.mode("overwrite").parquet(s"$out/results/$n")
    }
    val oracle = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    Json.write(s"$out/oracle_sql.json", oracle)
    // the cached rows as one fresh parquet file: the result file just
    // written for the checks
    val fresh = csvCache.map(q => Disk.bytes(Seq(s"$out/results/$q"))).getOrElse(0L)
    r.appliedBytes += fresh * updates
    Map("fresh_bytes" -> fresh, "live_bytes" -> Disk.bytes(Seq(csvCacheDir)),
      "csv_cache" -> csvCache.map(q => Map("path" -> csvCacheDir, "query" -> q)).getOrElse(Map.empty),
      "cache_mem_mb" -> cacheMemMb, "cache_disk_mb" -> cacheDiskMb,
      "recall" -> names.flatMap(n => Recall.gated.get(n).map(g =>
        n -> Map("gate" -> g, "threshold_pct" -> Recall.thresholds(g), "baseline" -> Recall.baseline))).toMap,
      "unchecked" -> names.filterNot(n => oracle.contains(n) || Recall.gated.contains(n)))
  }
}

/** Rows-only ANN entries, gated as `q_recall_report` gates them:
  * recall@k against the exact brute-force search, floored to percent,
  * against the catalog's own thresholds.
  */
object Recall {
  val gated: Map[String, String] = Map(
    "q_ann_ivf_topk" -> "ann_ivf_recall5",
    "q_ann_pq_topk" -> "ann_pq_recall5",
    "q_ann_hnsw_topk" -> "ann_hnsw_recall5")
  def baseline = "q_ann_brute_topk"
  def thresholds: Map[String, Int] = graft.operators.RecallReport.GateThresholds.toMap
}

object ReportSuite extends CatalogWorkload {
  val builds = Seq("shared_report_frames")
  val readOps = Seq(
    "q_normalize_status", "q_dedup_keep_last", "q_filter_tags", "q_status_dist",
    "q_priority_dist", "q_overdue", "q_weekly_focus", "q_weekly_velocity",
    "q_period_report", "q_report_goals", "q_parent_join", "q_hierarchy_rollup",
    "q_project_flags", "q_report_doc", "q_block_tree",
    "q1_pricing_summary", "q3_top_revenue", "q5_region_volume")

  // The reference's fetch job merges the tasks keep-last by id into its
  // CSV cache (fetch_pages.py:590-604, as cited in sources/PagedTasks.scala);
  // q_dedup_keep_last is that keep-last (TaskAnalytics.dedupKeepLast) and
  // Export.writeCsv the cache's tasks_df.to_csv.
  val csvCache = Some("q_dedup_keep_last")
}

object CorpusCuration extends CatalogWorkload {
  val builds = Seq("shared_dedup_pairs", "shared_text_pipeline", "shared_curation_frames",
    "shared_nb_model", "shared_unigram_model")
  val readOps = Seq(
    // dedup
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_containment",
    "q_dedup_incremental", "q_dedup_span", "q_span_scrub", "q_dedup_clusters",
    "q_cluster_reps", "q_dup_matrix",
    // text quality
    "q_quality_score", "q_gopher_filter", "q_repetition", "q_filter_cascade",
    "q_pipeline_yield", "q_contamination",
    // similarity
    "q_ann_brute_topk", "q_ann_ivf_topk", "q_ann_pq_topk", "q_ann_hnsw_topk",
    "q_knn_label_acc", "q_hard_negatives", "q_dedup_embedding", "q_dedup_semantic")

  val csvCache = None
}

object Workloads {
  val all: Map[String, Workload] = Map(
    "report_suite" -> ReportSuite,
    "corpus_curation" -> CorpusCuration,
    "index_lifecycle" -> IndexLifecycle)

  /** Runs `f` over `items` on a small pool (untimed output writing). */
  def inParallel[T](items: Seq[T])(f: T => Unit): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try items.map(i => pool.submit(new Runnable { def run(): Unit = f(i) })).foreach(_.get())
    finally pool.shutdown()
  }

  /** Bench's end-of-run release list, consumers first. */
  def releaseCaches(s: SparkSession, dir: String): Unit = {
    graft.operators.Dedup.releaseShingleCache(s, dir)
    graft.operators.ReportDoc.releaseReportCache(s, dir)
    graft.operators.TextAnalysis.releasePipelineCache(s, dir)
    graft.operators.Bpe.releaseEncodeCache(s, dir)
    graft.operators.Bpe.releaseLearnedCache(s, dir)
    graft.operators.CorpusCuration.releaseCurationCache(s, dir)
    graft.operators.Classifier.releaseModelCache(s, dir)
    graft.operators.Unigram.releaseModelCache(s, dir)
  }
}
